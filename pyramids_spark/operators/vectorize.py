"""Raster → vector: connected components (cluster) and polygonize (cluster2).

Reference semantics:
- ``Dataset.cluster(lo, hi)`` — 8-connected components of cells with value
  in [lo, hi] (BFS, ``/root/reference/src/pyramids/dataset/ops/
  vectorize.py:647-800``). Labels there are discovery-ordered; ours are the
  canonical minimum cell index (row*cols+col) of the component — a
  deterministic relabeling of the same partition (tests assert partition
  equality, not label equality).
- ``Dataset.cluster2`` / ``_band_to_polygon`` — gdal.Polygonize: 4-connected
  regions of EQUAL value → polygons with the value attribute
  (``vectorize.py:802-879``).

Distributed plan (SURVEY §7.2): per-tile components in numpy
(applyInPandas), then a fully distributed cross-tile merge — connected
components over the tile-border label graph via iterative min-label
propagation with pointer jumping (hash-to-min; O(log n) fixpoint rounds) —
then a relabel join. NOTHING touches the driver: the border set is
O(perimeter) ≪ cells but ≫ driver RAM at a 10^6×10^6 grid, so the round-1
driver union-find was the one real scale-killer here (VERDICT r1 #1).
The per-tile labeling is recomputed for the final join instead of caching
the full labeled table — at 100 TB one extra scan beats caching O(cells).
``cluster`` and ``polygonize`` share that pipeline (:func:`_components`);
they differ only in the mask (one range mask, 8-connected, vs one mask
per value, 4-connected).

Ring assembly (:func:`polygonize_rings`) runs ONE leftmost-turn walk,
:func:`_walk_paths_batch`, batched over every group of a task, at three
levels: per tile on the boundary edges (cut at tile borders), per (label,
super-tile) when a grid axis spans more than :data:`SUPER_FACTOR` tiles
(cut at super-tile lines), and per label with no cut. The per-label rings
then become one WKT polygon, rings ordered exterior first, then holes by
(−|area|, first vertex) — a total order, so the text never depends on
partitioning.

Every exchange is keyed by ``pyramids_spark.keys``: the packed cell key
``rc = row·2³² + col`` and the dense tile key, computed on long so int32
input columns give the same result as int64 ones; each tile task runs
the extent guard on the cells it decodes. The output label stays the
dense min cell index ``row·cols + col`` — it is output, not a key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import keys
from ..grid import Grid


def _local_cc(mask: np.ndarray, base_ids: np.ndarray, conn8: bool) -> np.ndarray:
    """CC on a boolean mask; labels are the component's minimum base_id
    (global cell index). Returns label grid (-1 outside mask).

    Runs as edge-list pointer-jumping (the same kernel as the cross-tile
    merge): O(E · log diameter). [v1 swept the grid with 8 shifted minimums
    per round until fixpoint — O(cells · diameter); a snake-shaped
    component in a 128² tile needs hundreds of full-grid rounds, and that
    sweep dominated the cluster bench at 4M cells.]"""
    h, w = mask.shape
    lab = np.where(mask, base_ids, np.int64(-1))
    if not mask.any():
        return lab
    flat = np.arange(h * w, dtype=np.int64).reshape(h, w)
    shifts = [(0, 1), (1, 0)] + ([(1, 1), (1, -1)] if conn8 else [])
    eas, ebs = [], []
    for dy, dx in shifts:
        ys = slice(0, h - dy) if dy >= 0 else slice(-dy, h)
        xs = slice(0, w - dx) if dx >= 0 else slice(-dx, w)
        yd = slice(dy, h) if dy >= 0 else slice(0, h + dy)
        xd = slice(dx, w) if dx >= 0 else slice(0, w + dx)
        both = mask[ys, xs] & mask[yd, xd]
        if both.any():
            eas.append(flat[ys, xs][both])
            ebs.append(flat[yd, xd][both])
    if not eas:
        return lab  # only isolated cells: every label is its own base id
    uniq, roots = _edge_cc_arrays(np.concatenate(eas), np.concatenate(ebs))
    # local flat order is row-major like base order, so the min local id of
    # a component maps to its min base id
    full = np.arange(h * w, dtype=np.int64)
    full[uniq] = roots
    return np.where(mask, base_ids.ravel()[full].reshape(h, w), np.int64(-1))


def _label_tiles(cells_df: DataFrame, grid: Grid, tile: int, keep: Column,
                 by_value: bool) -> DataFrame:
    """Tile-labeling stage of :func:`cluster` and :func:`polygonize`: the
    cells passing ``keep`` → (row, col, value, label, border), labeled by
    per-tile connected components in numpy. ``by_value=False`` labels one
    mask 8-connected (cluster); ``by_value=True`` labels one mask per
    value 4-connected (gdal.Polygonize regions). Labels are the
    component's min cell index ``row·cols + col`` within the tile.

    The exchange carries the packed cell key ``rc`` and the dense tile key
    (keys.py) instead of four longs — guide §2.3, shuffle fewer bytes; the
    tile task unpacks them in numpy and runs the extent guard."""
    rows, cols = grid.rows, grid.cols
    ntj = keys.n_tiles(rows, cols, tile, tile)[1]
    d = cells_df.where(keep).select(
        keys.pack_rc("row", "col").alias("rc"),
        "value",
        keys.tile_key("row", "col", tile, tile, ntj).alias("tid"),
    )

    def per_tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        _, _, r0, c0, h, w = keys.tile_window(key[0], tile, tile, rows, cols)
        rr, cc = keys.unpack_rc_np(pdf["rc"].to_numpy())
        keys.check_extent(rr, cc, rows, cols)
        lr = rr - r0
        lc = cc - c0
        vals = pdf["value"].to_numpy()
        base = (np.arange(h)[:, None] + r0) * cols + (np.arange(w)[None, :] + c0)
        label = np.empty(len(pdf), dtype=np.int64)
        for m in ([vals == v for v in np.unique(vals)] if by_value
                  else [slice(None)]):
            mask = np.zeros((h, w), dtype=bool)
            mask[lr[m], lc[m]] = True
            label[m] = _local_cc(mask, base, conn8=not by_value)[lr[m], lc[m]]
        return pd.DataFrame(
            {"row": rr, "col": cc, "value": vals, "label": label,
             "border": (lr == 0) | (lr == h - 1) | (lc == 0) | (lc == w - 1)}
        )

    return d.groupBy("tid").applyInPandas(
        per_tile, schema="row long, col long, value double, label long, border boolean"
    )


EDGE_LOCAL_MAX = 5_000_000  # label-graph size below which one task solves it
BORDER_LOCAL_MAX = 2_000_000  # border-CELL count below which one task builds
# the edge list AND solves it (skips the distributed shift-explode join —
# 2 shuffles + a distinct — whose fixed job latency dominates when the
# border is small; measured 3.8 s → sub-second on a 71k-cell border)


def _edge_cc_arrays(ea: np.ndarray, eb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized CC over an edge list: min-propagation with pointer
    jumping, O(E · log diameter), no per-edge Python loop. Returns
    (node_ids, component_roots) aligned arrays (root = min node id)."""
    uniq = np.unique(np.concatenate([ea, eb]))
    ia = np.searchsorted(uniq, ea)
    ib = np.searchsorted(uniq, eb)
    root = np.arange(uniq.shape[0], dtype=np.int64)
    while True:
        prev = root.copy()
        m = np.minimum(root[ia], root[ib])
        np.minimum.at(root, ia, m)
        np.minimum.at(root, ib, m)
        root = root[root[root]]  # double pointer jump
        if (root == prev).all():
            break
    return uniq, uniq[root]


def _edge_cc_np(ea: np.ndarray, eb: np.ndarray) -> pd.DataFrame:
    """:func:`_edge_cc_arrays` as a (label, root) frame of CHANGED labels
    (the cross-tile merge mapping)."""
    uniq, out = _edge_cc_arrays(ea, eb)
    ch = out != uniq
    return pd.DataFrame({"label": uniq[ch], "root": out[ch]})


def _merge_labels_df(border: DataFrame, by_value: bool, local: bool) -> DataFrame:
    """Distributed cross-tile merge: CC over the border-label graph.

    ``local``: one executor task builds the cross-tile edge list from the
    border cells (sorted-encode + searchsorted over packed cell keys) and
    solves it — a single job instead of the shift-explode join + distinct
    + count + solve chain; the data still never touches the driver.
    Otherwise the adjacency edge list comes from an equi-join of shifted
    border cells (no driver state) and :func:`edge_components_df` solves
    it. The edge list is O(tile-components touching a border) — orders of
    magnitude smaller than the border-cell set.

    Returns a small (label, root) DataFrame holding only labels whose
    canonical root differs (the rest keep their tile label via the
    left-join coalesce in :func:`_apply_mapping`). Canonical root =
    component-min label ≡ min global cell index, identical to the round-1
    driver union-find (oracles pin exact label partitions).
    """
    shifts = [(0, 1), (1, 0)] + ([] if by_value else [(1, 1), (1, -1)])
    if local:
        def solve_local(pdf: pd.DataFrame) -> pd.DataFrame:
            r = pdf["row"].to_numpy(np.int64)
            c = pdf["col"].to_numpy(np.int64)
            lab = pdf["label"].to_numpy(np.int64)
            val = pdf["value"].to_numpy()
            enc = keys.pack_rc_np(r, c)
            order = np.argsort(enc)
            enc_s, lab_s, val_s = enc[order], lab[order], val[order]
            eas, ebs = [], []
            for dy, dx in shifts:
                nenc = keys.pack_rc_np(r + dy, c + dx)
                idx = np.clip(np.searchsorted(enc_s, nenc), 0, len(enc_s) - 1)
                hit = (enc_s[idx] == nenc) & (lab_s[idx] != lab)
                if by_value:
                    hit &= val_s[idx] == val
                if hit.any():
                    eas.append(lab[hit])
                    ebs.append(lab_s[idx][hit])
            if not eas:
                return pd.DataFrame({"label": [], "root": []}, dtype=np.int64)
            return _edge_cc_np(np.concatenate(eas), np.concatenate(ebs))

        return (
            border.withColumn("_g", F.lit(0))
            .groupBy("_g")
            .applyInPandas(lambda _k, pdf: solve_local(pdf), schema="label long, root long")
            .localCheckpoint(eager=True)
        )
    b = border.select("row", "col", "value", "label")
    nbr = b.select(
        "label", "value",
        F.explode(F.array(*[
            F.struct((F.col("row") + dy).alias("row"), (F.col("col") + dx).alias("col"))
            for dy, dx in shifts
        ])).alias("n"),
    ).select("label", "value", F.col("n.row").alias("row"), F.col("n.col").alias("col"))
    on = ["row", "col"] + (["value"] if by_value else [])
    half = (
        nbr.join(b.select(*on, F.col("label").alias("label2")), on)
        .where(F.col("label") != F.col("label2"))
        .select("label", "label2")
    )
    return edge_components_df(half)


def edge_components_df(half: DataFrame) -> DataFrame:
    """Connected components over an arbitrary (label, label2) edge frame
    (either direction suffices; symmetric closure is built here) →
    (label, root) rows for CHANGED labels only, root = component min.

    Shared solver for the cross-tile label merge and graph-shaped dedup
    (near-dup cluster resolution): one-task vectorized min-propagation
    below :data:`EDGE_LOCAL_MAX`, Spark-side pointer-jumping fixpoint
    above it."""
    edges = (
        half.union(half.select(F.col("label2").alias("label"), F.col("label").alias("label2")))
        .distinct()
        .persist()
    )
    try:
        if edges.count() <= EDGE_LOCAL_MAX:
            def solve(pdf: pd.DataFrame) -> pd.DataFrame:
                return _edge_cc_np(
                    pdf["label"].to_numpy(np.int64), pdf["label2"].to_numpy(np.int64)
                )

            return (
                edges.withColumn("_g", F.lit(0))
                .groupBy("_g")
                .applyInPandas(lambda _k, pdf: solve(pdf), schema="label long, root long")
                .localCheckpoint(eager=True)
            )
        # localCheckpoint (not persist) after every round: the plan references
        # m twice per round (neighbor-min + pointer jump), so without lineage
        # truncation the logical plan DOUBLES each iteration and analysis time
        # explodes exponentially — caching alone does not stop that.
        m = (
            edges.select("label").distinct().withColumn("root", F.col("label"))
            .localCheckpoint(eager=True)
        )
        for _ in range(60):
            nbr_min = (
                edges.join(
                    m.select(F.col("label").alias("label2"), F.col("root").alias("r2")),
                    "label2",
                )
                .groupBy("label")
                .agg(F.min("r2").alias("nroot"))
            )
            m2 = m.join(nbr_min, "label", "left").select(
                "label", F.least("root", F.coalesce("nroot", "root")).alias("root")
            )
            # pointer jumping: root ← root(root), halves chain length per round
            m2 = (
                m2.alias("a")
                .join(
                    m2.select(F.col("label").alias("rl"), F.col("root").alias("rr")).alias("b"),
                    F.col("a.root") == F.col("rl"),
                    "left",
                )
                .select(
                    F.col("a.label").alias("label"),
                    F.least(F.col("a.root"), F.coalesce("rr", F.col("a.root"))).alias("root"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                m2.join(m.select("label", F.col("root").alias("old")), "label")
                .where(F.col("root") != F.col("old"))
                .count()
            )
            m.unpersist()
            m = m2
            if changed == 0:
                break
        else:
            raise RuntimeError("label propagation did not converge in 60 rounds")
        mapping = m.where(F.col("label") != F.col("root")).localCheckpoint(eager=True)
        m.unpersist()
        return mapping
    finally:
        edges.unpersist()


def _components(cells_df: DataFrame, grid: Grid, tile: int, keep: Column,
                by_value: bool, single_pass: bool) -> DataFrame:
    """The pipeline behind :func:`cluster` and :func:`polygonize`: tile
    labeling (:func:`_label_tiles`), an optional checkpoint of the labeled
    table, the cross-tile merge over the border cells, and the relabel
    join → (row, col, value, label)."""
    labeled = _label_tiles(cells_df, grid, tile, keep, by_value)
    if single_pass:
        # checkpoint the LABELED table (not the relabeled output): the
        # border pass, the relabel join and any downstream scan all read
        # the one materialization (r7, guide §5 cache-when-reused)
        labeled = labeled.localCheckpoint(eager=True)
    border = labeled.where("border").select("row", "col", "value", "label").persist()
    try:
        nti, ntj = keys.n_tiles(grid.rows, grid.cols, tile, tile)
        # grid geometry bounds the border at 4·tile cells per tile; when
        # that bound already fits the one-task merge, the exact count() —
        # a full pass over the labeled table just to pick a branch — is
        # skipped (r7: one fewer job barrier per call)
        local = (4 * tile * nti * ntj <= BORDER_LOCAL_MAX
                 or border.count() <= BORDER_LOCAL_MAX)
        mapping = _merge_labels_df(border, by_value, local)
    finally:
        border.unpersist()
    return _apply_mapping(labeled, mapping)


def cluster(
    cells_df: DataFrame,
    grid: Grid,
    lo: float,
    hi: float,
    tile: int = 256,
    single_pass: bool = False,
) -> DataFrame:
    """8-connected components of cells with lo ≤ value ≤ hi
    → (row, col, value, label); label = min cell index of the component.

    ``single_pass=False`` (default): the per-tile labeling is recomputed
    for the final relabel join — two scans, O(1) storage, the only sane
    mode at 100 TB. ``single_pass=True``: the labeled table is eagerly
    localCheckpointed (memory+disk, lineage cut) and the border pass, the
    relabel join and every downstream scan read that one materialization
    — one tile-CC execution, O(cells) block-manager storage (released
    when the result is garbage-collected), the right mode when the grid
    fits the cluster's storage tier (it halves the wall time at bench
    scale)."""
    v = F.col("value")
    return _components(cells_df, grid, tile, v.isNotNull() & (v >= lo) & (v <= hi),
                       by_value=False, single_pass=single_pass)


def _apply_mapping(labeled: DataFrame, mapping: DataFrame) -> DataFrame:
    # mapping holds only cross-tile merged labels — broadcastable in
    # practice (O(components spanning a tile edge)); AQE falls back to a
    # shuffle join if a pathological grid ever outgrows the hint.
    return (
        labeled.join(F.broadcast(mapping), "label", "left")
        .select("row", "col", "value", F.coalesce("root", "label").alias("label"))
    )


def _has_data(v: Column) -> Column:
    """A cell holds data unless its value is null or NaN — the absent-row
    nodata contract of ``_blocks.sparse_cells``, which drops NaN on read.
    A NaN cell kept as a value would match no ``vals == v`` mask of the
    tile labeling."""
    return v.isNotNull() & ~F.isnan(v)


def polygonize(
    cells_df: DataFrame, grid: Grid, tile: int = 256, single_pass: bool = False
) -> DataFrame:
    """gdal.Polygonize region step: 4-connected equal-value components.
    → (row, col, value, label). Null and NaN cells are nodata: they belong
    to no region, so they become holes of the regions around them.

    ``single_pass`` has :func:`cluster`'s semantics: eagerly checkpoint
    the per-tile labeling so the border/mapping pass and downstream
    consumers (the ring pipeline) scan it without re-running the tile CC
    — one execution, O(cells) block-manager storage; default False stays
    the two-scan O(1)-storage mode."""
    return _components(cells_df, grid, tile, _has_data(F.col("value")),
                       by_value=True, single_pass=single_pass)


# The four cell sides as (neighbor offset, directed ccw edge in integer
# vertex coords (vc, vr)); vr grows downward — map space flips y at emission
_SIDE_EDGES = (
    ((1, 0), ((0, 1), (1, 1))),   # bottom: bl→br
    ((0, 1), ((1, 1), (1, 0))),   # right:  br→tr
    ((-1, 0), ((1, 0), (0, 0))),  # top:    tr→tl
    ((0, -1), ((0, 0), (0, 1))),  # left:   tl→bl
)


def _walk_paths_batch(verts: np.ndarray, off: np.ndarray, grp: np.ndarray, is_cut_v):
    """The one leftmost-turn ring walk of :func:`polygonize_rings`: chain
    directed vertex paths of MANY groups at once into open paths and
    closed rings. Every level runs it: per tile on the unit boundary edges
    (2-vertex paths), then per (label, super-tile) and per label on the
    paths the level below emitted.

    ``verts``: (V, 2) int64 vertices in (vc, vr) coords, path ``i`` being
    ``verts[off[i]:off[i + 1]]`` (≥ 2 vertices); ``grp``: (P,) group ids.
    A path's successor is the path of its group whose first vertex is its
    last vertex. ``is_cut_v(xs, ys) -> bool array`` marks cut vertices,
    where the turn decision may involve paths outside the group: a path
    that starts at one begins an open path, one that ends at one ends it.
    Returns ``(grp, kind, verts, off)`` of the output paths in the same
    layout: kind 1 = open path (cut vertex → cut vertex), 2 = closed ring
    (first vertex repeated last; never touches a cut vertex).

    Why a successor ARRAY is exact: a path starts and ends with a unit
    boundary edge, a grid vertex has at most 2 out-edges of one label (only
    the diagonal-pinch cell pattern yields 2), and there the two
    in-directions are opposite, so the leftmost-turn rule — the path's last
    step in against each candidate's first step out — pairs each in-path
    with a DISTINCT out-path. That proper matching makes the walk
    order-independent, and a junction pairs the same way at whichever
    level it resolves, so the distributed decomposition matches a
    monolithic walk. In/out balance gives every non-cut end a successor.
    Both properties are asserted; a violation is an ``AssertionError``,
    never a guess. The per-label python walks this replaced, per tile and
    per stitch group, are the parity oracles in tests/test_vectorize.py."""
    P = len(grp)
    if P == 0:
        return grp[:0], np.zeros(0, np.int64), verts[:0], np.zeros(1, np.int64)
    first, second = verts[off[:-1]], verts[off[:-1] + 1]
    last, pen = verts[off[1:] - 1], verts[off[1:] - 2]
    # vertex keys: dense ranks of (group, x, y) over every path end (a
    # packed (group·sx + x)·sy + y product overflows int64 on big grids)
    g2 = np.concatenate([grp, grp])
    v2 = np.concatenate([first, last])
    o = np.lexsort((v2[:, 1], v2[:, 0], g2))
    g2, v2 = g2[o], v2[o]
    new = np.ones(2 * P, dtype=bool)
    new[1:] = (g2[1:] != g2[:-1]) | (v2[1:] != v2[:-1]).any(axis=1)
    rank = np.empty(2 * P, dtype=np.int64)
    rank[o] = np.cumsum(new)
    ka, kb = rank[:P], rank[P:]
    order = np.argsort(ka, kind="stable")
    ka_s = ka[order]
    lo = np.searchsorted(ka_s, kb, side="left")
    deg = np.searchsorted(ka_s, kb, side="right") - lo
    end_cut = np.asarray(is_cut_v(last[:, 0], last[:, 1]), dtype=bool)
    suc = np.full(P, -1, dtype=np.int64)
    m1 = (~end_cut) & (deg == 1)
    suc[m1] = order[lo[m1]]
    m2 = (~end_cut) & (deg == 2)
    if m2.any():
        din = last[m2] - pen[m2]

        def turn(j):
            dout = second[j] - first[j]
            return din[:, 0] * dout[:, 1] - din[:, 1] * dout[:, 0]

        j1, j2 = order[lo[m2]], order[lo[m2] + 1]
        suc[m2] = np.where(turn(j1) <= turn(j2), j1, j2)  # leftmost turn
    if ((~end_cut) & ((deg == 0) | (deg > 2))).any():
        raise AssertionError("boundary vertex with no or >2 successors")
    if (np.bincount(suc[suc >= 0], minlength=P) > 1).any():
        raise AssertionError("two in-paths chose one out-path")

    def follow(starts: np.ndarray, ring: bool):
        """Batched pointer chase: step every output path at once. Records
        are step-major; a stable argsort by output path restores each
        one's input order. Rings stop before their own start comes round
        again, open paths at suc == -1."""
        pids, cur, stop = np.arange(len(starts), dtype=np.int64), starts, starts
        rec_p, rec_e = [pids], [cur]
        while True:
            nxt = suc[cur]
            act = (nxt != stop) if ring else (nxt >= 0)
            if not act.any():
                break
            pids, cur, stop = pids[act], nxt[act], stop[act]
            rec_p.append(pids)
            rec_e.append(cur)
        allp = np.concatenate(rec_p)
        o = np.argsort(allp, kind="stable")
        return allp[o], np.concatenate(rec_e)[o]

    def assemble(allp, alle):
        # an output path is its first input path whole, then every later
        # one without its first vertex (the previous one's last)
        head = np.ones(len(allp), dtype=bool)
        head[1:] = allp[1:] != allp[:-1]
        s = off[alle] + ~head
        n = off[alle + 1] - s
        ends = np.cumsum(n)
        idx = np.arange(ends[-1]) + np.repeat(s - (ends - n), n)
        return verts[idx], np.add.reduceat(n, np.flatnonzero(head))

    out = []  # (starts, kind, verts, lengths) per kind
    consumed = np.zeros(P, dtype=bool)
    cstarts = np.flatnonzero(is_cut_v(first[:, 0], first[:, 1]))
    if cstarts.size:
        allp, alle = follow(cstarts, ring=False)
        consumed[alle] = True
        out.append((cstarts, 1, *assemble(allp, alle)))
    rem = np.flatnonzero(~consumed)
    if rem.size:
        # cycle representatives (min path index per cycle) by pointer doubling
        pos = np.full(P, -1, dtype=np.int64)
        pos[rem] = np.arange(rem.size)
        s = pos[suc[rem]]
        if (s < 0).any():
            raise AssertionError("ring path escapes the remaining set")
        m = rem.copy()
        while True:
            mn = np.minimum(m, m[s])
            if (mn == m).all():
                break
            m, s = mn, s[s]
        rstarts = rem[m == rem]
        out.append((rstarts, 2, *assemble(*follow(rstarts, ring=True))))
    starts = np.concatenate([o[0] for o in out])
    kinds = np.concatenate([np.full(len(o[0]), o[1], np.int64) for o in out])
    lens = np.concatenate([o[3] for o in out])
    return (grp[starts], kinds, np.concatenate([o[2] for o in out]),
            np.r_[0, np.cumsum(lens)])


def _pack_paths(verts: np.ndarray, off: np.ndarray) -> list:
    """Paths → packed int32 (vc, vr) byte blobs, one per path: one binary
    cell per path (list<long> columns cost ~9 µs/row through the stitch
    exchanges)."""
    buf = verts.astype(np.int32).tobytes()
    return [buf[8 * a:8 * b] for a, b in zip(off[:-1].tolist(), off[1:].tolist())]


def _unpack_paths(blobs) -> tuple[np.ndarray, np.ndarray]:
    """:func:`_pack_paths` inverse → (verts, off). Vertices widen to int64:
    the shoelace products reach coord² and must not wrap in 32 bits."""
    n = np.fromiter(map(len, blobs), np.int64, len(blobs)) // 8
    verts = np.frombuffer(b"".join(blobs), np.int32).reshape(-1, 2).astype(np.int64)
    return verts, np.r_[0, np.cumsum(n)]


SUPER_FACTOR = 8  # super-tile edge, in tiles, of the two-level stitch

_FRAG_SCHEMA = ("tile_y long, tile_x long, label long, kind int, value double, "
                "n_own long, verts binary")


def polygonize_rings(cells_df: DataFrame, grid: Grid, tile: int = 256) -> DataFrame:
    """Full cluster2 semantics: per-region polygon as WKT + value + cell
    count (``_band_to_polygon``, reference ``vectorize.py:802-879``).

    Distributed ring assembly, in three levels of ONE walk
    (:func:`_walk_paths_batch`), so a continent-sized region costs one
    task O(perimeter), never O(area):

    1. per tile (:func:`_ring_fragments`): boundary edges survive
       cancellation iff the 4-neighbour across them has a different label,
       a test that needs only a 1-cell halo of labels; the walk chains
       them, cut at tile-border vertices;
    2. per (label, super-tile), when the grid spans more than
       :data:`SUPER_FACTOR` tiles per axis (:func:`_stitch_level`): the
       chains merge within super-tiles of ``SUPER_FACTOR²`` tiles, cut
       only at super-tile lines, so the last level holds O(super-tile
       crossings) fragments per component, not O(tile crossings). A vertex
       interior to a super-tile has all four incident tiles inside it, so
       its junction resolves exactly as the single-level stitch would;
    3. per label, with no cut: every path closes into a ring.

    Rings then become one ``POLYGON`` per label (:func:`_polygon_rows`):
    each ring starts at its smallest (x, y) vertex, the exterior comes
    first and the holes follow by (−|area|, first vertex). The order is
    total, so the WKT depends neither on the stitch level nor on
    partitioning."""
    # single_pass: the labeled table is consumed TWICE downstream (border
    # merge inside polygonize + the fragment scan here) — materializing it
    # runs the 4M-cell tile CC once instead of twice (measured ~1 s of the
    # bench query; guide §5 cache-when-reused rule)
    comp = polygonize(cells_df, grid, tile, single_pass=True)
    frags = _ring_fragments(comp, grid, tile)
    if max(keys.n_tiles(grid.rows, grid.cols, tile, tile)) > SUPER_FACTOR:
        frags = _stitch_level(frags, grid, tile, SUPER_FACTOR)
    return _stitch_level(frags, grid, tile, None)


def _ring_fragments(comp: DataFrame, grid: Grid, tile: int) -> DataFrame:
    """Per-tile boundary-edge extraction + chaining (level 1 of
    polygonize_rings): chains cut at tile-border vertices, plus per-
    (tile, label) cell counts riding along so the labeled table is
    scanned once. Each tile receives its own cells plus a 1-cell halo
    (``keys.halo_tiles``, r = 1) and tells them apart by its window; the
    halo's 4 diagonal corner cells are never a 4-neighbour of an owned
    cell, so they never change an edge. Paths travel as packed int32
    vertex-pair blobs (:func:`_pack_paths`)."""
    rows, cols = grid.rows, grid.cols
    assert max(rows, cols) < (1 << 31) - 1, "vertex coords exceed int32 packing"
    spread = comp.select(
        keys.pack_rc("row", "col").alias("rc"), "value", "label",
        F.explode(keys.halo_tiles("row", "col", tile, tile, rows, cols, 1)).alias("tid"),
    )

    def per_tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        t_y, t_x, r0, c0, h, w = keys.tile_window(key[0], tile, tile, rows, cols)
        r_all, c_all = keys.unpack_rc_np(pdf["rc"].to_numpy())
        keys.check_extent(r_all, c_all, rows, cols)
        lab_all = pdf["label"].to_numpy(np.int64)
        own = (r_all >= r0) & (r_all < r0 + h) & (c_all >= c0) & (c_all < c0 + w)
        out = {"label": [], "kind": [], "value": [], "n_own": [], "verts": []}
        if not own.any():  # empty float64 columns break Arrow's binary cast
            return pd.DataFrame({"tile_y": [], "tile_x": [], **out}).astype(
                {"tile_y": np.int64, "tile_x": np.int64, "verts": object}
            )
        # per-(tile,label) cell counts — summed at the stitch so the whole
        # pipeline is one scan of the labeled table. np.unique, not a
        # pandas groupby: dense tiles carry ~1k labels and the per-group
        # frame setup dominated this loop (r6 profiling pass)
        lab_own = lab_all[own]
        val_own = pdf["value"].to_numpy(np.float64)[own]
        ulab, ufirst, ucnt = np.unique(lab_own, return_index=True,
                                       return_counts=True)
        out["label"].extend(int(v) for v in ulab)
        out["kind"].extend([0] * len(ulab))
        out["value"].extend(float(v) for v in val_own[ufirst])
        out["n_own"].extend(int(v) for v in ucnt)
        out["verts"].extend([None] * len(ulab))
        # label lookup over owner + halo cells (sorted-encode + searchsorted)
        enc_all = keys.pack_rc_np(r_all, c_all)
        order = np.argsort(enc_all)
        enc_s = enc_all[order]
        lab_s = lab_all[order]
        r = r_all[own]
        c = c_all[own]
        lab = lab_own
        eas, ebs, elab = [], [], []
        for (dr, dc), (a_off, b_off) in _SIDE_EDGES:
            nenc = keys.pack_rc_np(r + dr, c + dc)
            idx = np.clip(np.searchsorted(enc_s, nenc), 0, len(enc_s) - 1)
            same = (enc_s[idx] == nenc) & (lab_s[idx] == lab)
            keep = ~same
            eas.append(np.stack([c[keep] + a_off[0], r[keep] + a_off[1]], axis=1))
            ebs.append(np.stack([c[keep] + b_off[0], r[keep] + b_off[1]], axis=1))
            elab.append(lab[keep])
        ea = np.concatenate(eas)
        eb = np.concatenate(ebs)
        el = np.concatenate(elab)

        def is_cut_v(xs, ys):
            return (xs == c0) | (xs == c0 + w) | (ys == r0) | (ys == r0 + h)

        # one batched walk over every label's edges at once, each edge a
        # 2-vertex path
        wl, wk, wv, wo = _walk_paths_batch(
            np.stack([ea, eb], axis=1).reshape(-1, 2),
            np.arange(0, 2 * len(el) + 1, 2), el, is_cut_v)
        out["label"].extend(wl.tolist())
        out["kind"].extend(wk.tolist())
        out["value"].extend([None] * len(wl))
        out["n_own"].extend([None] * len(wl))
        out["verts"].extend(_pack_paths(wv, wo))
        res = pd.DataFrame(out)
        res.insert(0, "tile_y", np.int64(t_y))
        res.insert(1, "tile_x", np.int64(t_x))
        return res

    return spread.groupBy("tid").applyInPandas(per_tile, schema=_FRAG_SCHEMA)


def _stitch_level(frags: DataFrame, grid: Grid, tile: int, factor: "int | None") -> DataFrame:
    """One stitch level of :func:`polygonize_rings`: repartition the
    fragment rows by group, then one ``mapInPandas`` whose task runs ONE
    :func:`_walk_paths_batch` over the chains of every group in its
    partition (one Arrow setup per partition and no per-group python loop:
    with ~1 group per component, per-group setup used to dominate).

    ``factor`` (super-tile edge in tiles): group = (label, super-tile) —
    keyed by ``keys.tile_key`` over the tile indices — cut at INTERIOR
    super-tile lines only (a vertex on the grid edge has all its incident
    cells inside this super-tile, so a boundary running along the grid
    edge merges here instead of staying one fragment per cell edge).
    Output = fragment rows with the super-tile in tile_y/tile_x: cell
    counts summed per group, untouched rings passed through as bytes.
    ``factor=None``: group = label, no cut, output = one polygon row per
    label (:func:`_polygon_rows`)."""
    rows, cols = grid.rows, grid.cols
    n_sx = -(-keys.n_tiles(rows, cols, tile, tile)[1] // factor) if factor else 1
    edge = tile * (factor or 1)

    def is_cut_v(xs, ys):
        if not factor:
            return np.zeros(len(xs), dtype=bool)
        return ((xs % edge == 0) & (xs > 0) & (xs < cols)) | (
            (ys % edge == 0) & (ys > 0) & (ys < rows))

    def stitch_partition(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        if not len(pdf):
            return
        lab = pdf["label"].to_numpy(np.int64)
        kind = pdf["kind"].to_numpy(np.int64)
        sid = (keys.tile_key_np(pdf["tile_y"], pdf["tile_x"], factor, factor, n_sx)
               if factor else np.zeros(len(lab), np.int64))
        # dense group ids, ordered by (label, super-tile)
        o = np.lexsort((sid, lab))
        new = np.ones(len(o), dtype=bool)
        new[1:] = (lab[o][1:] != lab[o][:-1]) | (sid[o][1:] != sid[o][:-1])
        gid = np.empty(len(o), dtype=np.int64)
        gid[o] = np.cumsum(new) - 1
        g_lab, g_sid, G = lab[o][new], sid[o][new], int(new.sum())
        c = kind == 0
        has = np.bincount(gid[c], minlength=G) > 0
        n_cells = np.bincount(gid[c], weights=pdf["n_own"].to_numpy(np.float64)[c],
                              minlength=G)
        value = np.full(G, np.nan)
        value[gid[c]] = pdf["value"].to_numpy(np.float64)[c]
        blobs = pdf["verts"].to_numpy()
        k1, k2 = kind == 1, np.flatnonzero(kind == 2)
        wg, wk, wv, wo = _walk_paths_batch(*_unpack_paths(blobs[k1]), gid[k1], is_cut_v)
        if factor is None:
            pv, po = _unpack_paths(blobs[k2])
            yield _polygon_rows(
                g_lab, value, n_cells.astype(np.int64), np.concatenate([gid[k2], wg]),
                np.concatenate([pv, wv]), np.r_[po, po[-1] + wo[1:]], grid)
            return
        hg = np.flatnonzero(has)
        rg = np.concatenate([hg, gid[k2], wg])
        n_pass = len(k2) + len(wg)
        yield pd.DataFrame({
            "tile_y": g_sid[rg] // n_sx, "tile_x": g_sid[rg] % n_sx, "label": g_lab[rg],
            "kind": np.concatenate([np.zeros(len(hg), np.int64), kind[k2], wk]).astype(np.int32),
            "value": np.r_[value[hg], np.full(n_pass, np.nan)],
            "n_own": np.r_[n_cells[hg], np.full(n_pass, np.nan)],
            "verts": [None] * len(hg) + list(blobs[k2]) + _pack_paths(wv, wo),
        })

    n_parts = frags.sparkSession.sparkContext.defaultParallelism * 2
    if factor:
        parts = frags.repartition(
            n_parts, "label", keys.tile_key("tile_y", "tile_x", factor, factor, n_sx))
    else:
        parts = frags.repartition(n_parts, "label")
    return parts.mapInPandas(
        stitch_partition,
        schema=_FRAG_SCHEMA if factor else
        "label long, value double, n_cells long, wkt string",
    )


def _polygon_rows(lab, value, n_cells, rgrp, verts, off, grid: Grid) -> pd.DataFrame:
    """Closed rings (grouped by ``rgrp``, an index into the per-group
    ``lab``/``value``/``n_cells``) → one ``POLYGON`` WKT row per group.

    Each ring is rotated to start at its smallest (x, y) vertex, and a
    group's rings are ordered by (−|area|, first vertex): the exterior —
    strictly the largest ring, as it encloses every hole and at least one
    cell — comes first, then the holes. Two rings of one label never share
    their smallest vertex (at a pinch vertex only a ring that never goes
    left of it can start there), so the order is total and the text
    depends on neither the stitch level nor the order fragments arrive in.
    Vertices are formatted as python floats: f-strings over numpy scalars
    cost ~30× more."""
    n = np.diff(off)
    rid = np.repeat(np.arange(len(n)), n)
    start = np.repeat(off[:-1], n)
    x, y = verts[:, 0], verts[:, 1]
    # translation-invariant: |map area| = cs² · |integer shoelace|
    cr = x[:-1] * y[1:] - x[1:] * y[:-1]
    cr[rid[:-1] != rid[1:]] = 0
    area = np.abs(np.add.reduceat(cr, off[:-1]))
    # rotate each ring (closing vertex dropped) to its smallest (x, y) vertex
    core = n - 1
    ci = np.flatnonzero(np.arange(len(x)) != np.repeat(off[1:] - 1, n))
    lo = np.lexsort((y[ci], x[ci], rid[ci]))[np.r_[0, np.cumsum(core)[:-1]]]
    i0 = np.repeat(ci[lo] - off[:-1], n)
    rv = verts[start + (i0 + np.arange(len(x)) - start) % np.repeat(core, n)]
    order = np.lexsort((rv[off[:-1], 1], rv[off[:-1], 0], -area, rgrp))
    xs = (grid.x0 + rv[:, 0] * grid.cell).tolist()
    ys = (grid.y0 - rv[:, 1] * grid.cell).tolist()
    pts = [f"{a} {b}" for a, b in zip(xs, ys)]
    ol = off.tolist()
    txt = ["(" + ", ".join(pts[ol[r]:ol[r + 1]]) + ")" for r in order.tolist()]
    gs = rgrp[order]
    heads = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
    g = gs[heads]
    return pd.DataFrame({
        "label": lab[g], "value": value[g], "n_cells": n_cells[g],
        "wkt": ["POLYGON (" + ", ".join(txt[a:b]) + ")"
                for a, b in zip(heads.tolist(), np.r_[heads[1:], len(txt)].tolist())],
    })


def footprint(cells_df: DataFrame, grid: Grid, tile: int = 256) -> DataFrame:
    """Real-data coverage polygons: mask to a constant then polygonize
    (reference ``Dataset.footprint``, ``analysis.py:539-656``: domain cells
    → value 2 → polygonize). Null and NaN cells are outside the domain."""
    masked = cells_df.where(_has_data(F.col("value"))).withColumn(
        "value", F.lit(2.0)
    )
    return polygonize_rings(masked, grid, tile)
