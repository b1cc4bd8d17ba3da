"""Connected components / polygonize vs full-grid numpy oracle.

The distributed result (per-tile CC + border union-find) must induce the
same PARTITION of cells as a single-shot oracle, with canonical min-cell-id
labels matching exactly (labels are deterministic, not just isomorphic)."""

import numpy as np
import pandas as pd
import pytest

from pyramids_spark import keys
from pyramids_spark.grid import Grid, grid_df
from pyramids_spark.operators import vectorize


def _oracle_cc(mask: np.ndarray, conn8: bool) -> np.ndarray:
    """Single-shot min-label propagation on the full grid."""
    rows, cols = mask.shape
    base = np.arange(rows * cols, dtype=np.int64).reshape(rows, cols)
    return vectorize._local_cc(mask, base, conn8)


def _rand_grid(spark, rows, cols, seed, frac=0.55):
    rng = np.random.default_rng(seed)
    vals = rng.integers(1, 4, size=(rows, cols)).astype(float)
    vals[rng.random((rows, cols)) > frac] = np.nan
    pdf = pd.DataFrame(
        {
            "band": 0,
            "row": np.repeat(np.arange(rows), cols),
            "col": np.tile(np.arange(cols), rows),
            "value": vals.ravel(),
        }
    )
    g = Grid(x0=0.0, y0=0.0, cell=1.0, rows=rows, cols=cols)
    return spark.createDataFrame(pdf.astype({"row": "int64", "col": "int64"})), g, vals


@pytest.mark.parametrize("seed,tile", [(0, 4), (1, 5), (2, 7), (3, 16)])
def test_cluster_matches_fullgrid_oracle(spark, seed, tile):
    df, g, vals = _rand_grid(spark, 20, 23, seed)
    got = vectorize.cluster(df, g, lo=2.0, hi=3.0, tile=tile).toPandas()
    mask = (vals >= 2.0) & (vals <= 3.0) & ~np.isnan(vals)
    exp = _oracle_cc(mask, conn8=True)
    assert len(got) == int(mask.sum())
    for _, r in got.iterrows():
        assert exp[int(r.row), int(r.col)] == r.label, (r.row, r.col)


@pytest.mark.parametrize("seed,tile", [(0, 4), (5, 6)])
def test_polygonize_components_match_per_value_oracle(spark, seed, tile):
    df, g, vals = _rand_grid(spark, 18, 15, seed, frac=0.8)
    got = vectorize.polygonize(df, g, tile=tile).toPandas()
    ok = ~np.isnan(vals)
    assert len(got) == int(ok.sum())
    # oracle: per-value 4-conn CC on the full grid
    exp = np.full(vals.shape, -1, dtype=np.int64)
    for v in np.unique(vals[ok]):
        m = ok & (vals == v)
        lab = _oracle_cc(m, conn8=False)
        exp[m] = lab[m]
    for _, r in got.iterrows():
        assert exp[int(r.row), int(r.col)] == r.label
        assert vals[int(r.row), int(r.col)] == r.value


def test_polygonize_rings_area_and_value(spark):
    # a 3x3 block of value 7 with a hole in the middle, plus a separate cell
    rows, cols = 8, 8
    vals = np.full((rows, cols), np.nan)
    vals[1:4, 1:4] = 7.0
    vals[2, 2] = np.nan  # hole
    vals[6, 6] = 7.0
    pdf = pd.DataFrame(
        {"band": 0, "row": np.repeat(np.arange(rows), cols),
         "col": np.tile(np.arange(cols), rows), "value": vals.ravel()}
    ).dropna()
    g = Grid(x0=0.0, y0=10.0, cell=1.0, rows=rows, cols=cols)
    df = spark.createDataFrame(pdf.astype({"row": "int64", "col": "int64"}))
    out = vectorize.polygonize_rings(df, g, tile=4).toPandas().sort_values("n_cells", ascending=False)
    assert len(out) == 2
    big, small = out.iloc[0], out.iloc[1]
    assert big.n_cells == 8 and small.n_cells == 1
    assert big.value == 7.0
    assert big.wkt.count("(") == 3  # exterior + one hole
    assert small.wkt.count("(") == 2


def _parse_wkt_rings(wkt):
    assert wkt.startswith("POLYGON (") and wkt.endswith(")")
    body = wkt[len("POLYGON ("):-1]
    rings = []
    for part in body.split("), ("):
        part = part.strip("()")
        pts = [tuple(float(t) for t in p.split(" ")) for p in part.split(", ")]
        rings.append(pts)
    return rings


def _shoelace(pts):
    return abs(sum(
        pts[i][0] * pts[i + 1][1] - pts[i + 1][0] * pts[i][1]
        for i in range(len(pts) - 1)
    )) / 2.0


def test_polygonize_rings_giant_component_spans_many_tiles(spark):
    """VERDICT r2 #4: ring assembly must be distributed — a donut spanning
    6x6 tiles comes back as one polygon whose rings CLOSE, whose exterior/
    hole areas are exact, and whose area difference equals n_cells. The
    per-tile stage ships only O(perimeter) chain fragments per task, never
    a whole component's cells."""
    rows, cols = 24, 24
    vals = np.full((rows, cols), np.nan)
    vals[2:22, 2:22] = 3.0
    vals[3:21, 3:21] = np.nan  # 1-cell-wide square annulus
    pdf = pd.DataFrame(
        {"band": 0, "row": np.repeat(np.arange(rows), cols),
         "col": np.tile(np.arange(cols), rows), "value": vals.ravel()}
    ).dropna()
    g = Grid(x0=0.0, y0=24.0, cell=1.0, rows=rows, cols=cols)
    df = spark.createDataFrame(pdf.astype({"row": "int64", "col": "int64"}))
    out = vectorize.polygonize_rings(df, g, tile=4).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r.n_cells == 20 * 20 - 18 * 18 and r.value == 3.0
    rings = _parse_wkt_rings(r.wkt)
    assert len(rings) == 2  # exterior + hole
    for ring in rings:
        assert ring[0] == ring[-1]  # closed
        assert len(set(map(tuple, ring[:-1]))) == len(ring) - 1  # simple
    assert _shoelace(rings[0]) == 400.0  # exterior first (largest)
    assert _shoelace(rings[1]) == 324.0
    assert _shoelace(rings[0]) - _shoelace(rings[1]) == r.n_cells


def test_polygonize_rings_snake_across_tiles(spark):
    """A C-shaped 1-cell-wide snake crossing every tile border: one simply
    connected polygon, ring closes, area equals cell count."""
    rows, cols = 12, 12
    vals = np.full((rows, cols), np.nan)
    vals[0, :] = 5.0
    vals[:, -1] = 5.0
    vals[-1, :] = 5.0
    pdf = pd.DataFrame(
        {"band": 0, "row": np.repeat(np.arange(rows), cols),
         "col": np.tile(np.arange(cols), rows), "value": vals.ravel()}
    ).dropna()
    g = Grid(x0=0.0, y0=12.0, cell=1.0, rows=rows, cols=cols)
    df = spark.createDataFrame(pdf.astype({"row": "int64", "col": "int64"}))
    out = vectorize.polygonize_rings(df, g, tile=3).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    rings = _parse_wkt_rings(r.wkt)
    assert len(rings) == 1
    assert rings[0][0] == rings[0][-1]
    assert _shoelace(rings[0]) == float(r.n_cells) == 34.0


def test_polygonize_rings_two_level_equals_single_level(spark, monkeypatch):
    """VERDICT r3 #3: the super-tile merge must not change a single output
    byte — donut + separate blob on a 12x12-tile grid, two-level
    (SUPER_FACTOR=4 → 3x3 supers) vs single-level (SUPER_FACTOR=12, no
    axis spans more tiles)."""
    rows, cols = 24, 24
    vals = np.full((rows, cols), np.nan)
    vals[2:22, 2:22] = 3.0
    vals[3:21, 3:21] = np.nan
    vals[0, 0] = 9.0  # grid-corner blob: exercises the grid-edge scut rule
    pdf = pd.DataFrame(
        {"band": 0, "row": np.repeat(np.arange(rows), cols),
         "col": np.tile(np.arange(cols), rows), "value": vals.ravel()}
    ).dropna()
    g = Grid(x0=0.0, y0=24.0, cell=1.0, rows=rows, cols=cols)
    df = spark.createDataFrame(pdf.astype({"row": "int64", "col": "int64"}))
    monkeypatch.setattr(vectorize, "SUPER_FACTOR", 4)
    two = (
        vectorize.polygonize_rings(df, g, tile=2)
        .toPandas().sort_values("label").reset_index(drop=True)
    )
    monkeypatch.setattr(vectorize, "SUPER_FACTOR", 12)
    one = (
        vectorize.polygonize_rings(df, g, tile=2)
        .toPandas().sort_values("label").reset_index(drop=True)
    )
    assert len(two) == len(one) == 2
    for c in ("label", "value", "n_cells", "wkt"):
        assert (two[c] == one[c]).all(), c


def test_super_merge_caps_final_stitch_fragments(spark, monkeypatch):
    """The giant-component straggler cap: a solid 64x64 component (every
    boundary vertex on the grid edge — worst case for the old one-level
    stitch) must reach the final stitch with ≥4x fewer chain fragments
    after the super merge."""
    rows = cols = 64
    pdf = pd.DataFrame(
        {"band": 0, "row": np.repeat(np.arange(rows), cols),
         "col": np.tile(np.arange(cols), rows), "value": 1.0}
    )
    g = Grid(x0=0.0, y0=64.0, cell=1.0, rows=rows, cols=cols)
    df = spark.createDataFrame(pdf.astype({"row": "int64", "col": "int64"}))
    comp = vectorize.polygonize(df, g, tile=4)
    frags = vectorize._ring_fragments(comp, g, tile=4).toPandas()
    merged = vectorize._stitch_level(
        vectorize._ring_fragments(comp, g, tile=4), g, tile=4, factor=4
    ).toPandas()
    n_before = int((frags["kind"] == 1).sum())
    n_after = int((merged["kind"] == 1).sum())
    assert n_before >= 4 * max(n_after, 1)
    # counts survive aggregation and rings still come out right
    assert merged.loc[merged["kind"] == 0, "n_own"].sum() == rows * cols
    monkeypatch.setattr(vectorize, "SUPER_FACTOR", 4)
    out = vectorize.polygonize_rings(df, g, tile=4).toPandas()
    assert len(out) == 1 and out.iloc[0].n_cells == rows * cols
    rings = _parse_wkt_rings(out.iloc[0].wkt)
    assert len(rings) == 1 and rings[0][0] == rings[0][-1]
    assert _shoelace(rings[0]) == float(rows * cols)


def test_footprint_covers_domain(spark):
    g = Grid(x0=0.0, y0=5.0, cell=1.0, rows=5, cols=5)
    df = grid_df(spark, g, "CASE WHEN row < 2 THEN CAST(1 AS DOUBLE) END")
    out = vectorize.footprint(df, g, tile=3).toPandas()
    assert out.n_cells.sum() == 10
    assert (out.value == 2.0).all()


def test_nan_cells_are_nodata_holes(spark):
    """NaN cells are nodata, like null ones: polygonize gives them no row
    (a NaN value matches no per-value mask, so its label was read from
    uninitialized memory), and polygonize_rings and footprint turn three
    4-adjacent NaN cells into one hole of the surrounding region."""
    g = Grid(x0=0.0, y0=4.0, cell=1.0, rows=4, cols=4)
    nan = "(row = 1 AND col IN (1, 2)) OR (row = 2 AND col = 1)"
    df = grid_df(spark, g, f"CASE WHEN {nan} THEN CAST('NaN' AS DOUBLE) ELSE 1.0D END")
    assert df.where("isnan(value)").count() == 3
    comp = vectorize.polygonize(df, g, tile=2).toPandas()
    assert len(comp) == 13 and (comp.value == 1.0).all() and (comp.label == 0).all()
    for name, out in (("rings", vectorize.polygonize_rings(df, g, tile=2)),
                      ("footprint", vectorize.footprint(df, g, tile=2))):
        out = out.toPandas()
        assert len(out) == 1 and out.n_cells.iloc[0] == 13, name
        ext, hole = _parse_wkt_rings(out.wkt.iloc[0])
        assert (_shoelace(ext), _shoelace(hole)) == (16.0, 3.0), name


def test_cluster_merge_never_touches_driver(spark, monkeypatch):
    """VERDICT r1 #1: the cross-tile merge must be fully distributed — no
    toPandas/collect of cell or border data anywhere in cluster/polygonize.
    (The fixpoint loop's change-counts are allowed: they collect a single
    long, not data.)"""
    import pyspark.sql.dataframe as _dfmod

    def _boom(self, *a, **k):  # pragma: no cover - should never run
        raise AssertionError("toPandas() called inside the distributed CC path")

    monkeypatch.setattr(_dfmod.DataFrame, "toPandas", _boom)
    df, g, vals = _rand_grid(spark, 20, 23, 0)
    got = vectorize.cluster(df, g, lo=2.0, hi=3.0, tile=4).collect()
    mask = (vals >= 2.0) & (vals <= 3.0) & ~np.isnan(vals)
    exp = _oracle_cc(mask, conn8=True)
    assert len(got) == int(mask.sum())
    for r in got:
        assert exp[int(r.row), int(r.col)] == r.label
    got2 = vectorize.polygonize(df, g, tile=4).collect()
    assert len(got2) == int((~np.isnan(vals)).sum())


@pytest.mark.parametrize("seed,tile", [(1, 5)])
def test_cluster_sparkloop_path_matches_oracle(spark, monkeypatch, seed, tile):
    """Force the big-graph Spark fixpoint branch (both local thresholds to
    0) and check it produces the same canonical labels as the one-task
    numpy paths."""
    monkeypatch.setattr(vectorize, "EDGE_LOCAL_MAX", 0)
    monkeypatch.setattr(vectorize, "BORDER_LOCAL_MAX", -1)
    df, g, vals = _rand_grid(spark, 20, 23, seed)
    got = vectorize.cluster(df, g, lo=2.0, hi=3.0, tile=tile).toPandas()
    mask = (vals >= 2.0) & (vals <= 3.0) & ~np.isnan(vals)
    exp = _oracle_cc(mask, conn8=True)
    assert len(got) == int(mask.sum())
    for _, r in got.iterrows():
        assert exp[int(r.row), int(r.col)] == r.label


def test_cluster_distributed_edge_build_local_solve(spark, monkeypatch):
    """Middle path: distributed shift-explode edge build + one-task edge
    solve (border too big for the border-local shortcut, graph small
    enough for the local solve)."""
    monkeypatch.setattr(vectorize, "BORDER_LOCAL_MAX", -1)
    df, g, vals = _rand_grid(spark, 20, 23, 2)
    got = vectorize.cluster(df, g, lo=2.0, hi=3.0, tile=7).toPandas()
    mask = (vals >= 2.0) & (vals <= 3.0) & ~np.isnan(vals)
    exp = _oracle_cc(mask, conn8=True)
    assert len(got) == int(mask.sum())
    for _, r in got.iterrows():
        assert exp[int(r.row), int(r.col)] == r.label


def test_cluster_single_component_spanning_many_tiles(spark):
    """A snake that crosses every tile border must come back as ONE label."""
    rows, cols = 12, 12
    vals = np.full((rows, cols), np.nan)
    vals[0, :] = 5.0
    vals[:, -1] = 5.0
    vals[-1, :] = 5.0
    pdf = pd.DataFrame(
        {"band": 0, "row": np.repeat(np.arange(rows), cols),
         "col": np.tile(np.arange(cols), rows), "value": vals.ravel()}
    ).dropna()
    g = Grid(x0=0.0, y0=12.0, cell=1.0, rows=rows, cols=cols)
    df = spark.createDataFrame(pdf.astype({"row": "int64", "col": "int64"}))
    got = vectorize.cluster(df, g, 0.0, 9.0, tile=3).toPandas()
    assert got.label.nunique() == 1
    assert got.label.min() == 0  # canonical min cell index


def _turn_key(din, cur):
    """Leftmost-turn comparator in MAP space; with y flipped the map cross
    product sign equals (dvr1·dvc2 − dvc1·dvr2)."""
    def turn(v):
        dout = (v[0] - cur[0], v[1] - cur[1])
        return din[0] * dout[1] - din[1] * dout[0]

    return turn


def _walk_edges(ea: np.ndarray, eb: np.ndarray, is_cut) -> tuple[list, list]:
    """Per-label python walk — the parity oracle for
    ``vectorize._walk_edges_batch``. Chain directed boundary edges into
    (open chains, closed rings).

    ``is_cut(v)`` marks vertices where chains must be cut (tile-boundary
    vertices — the turn decision there may involve edges from another
    tile).  Open chains run cut-vertex → cut-vertex; closed rings never
    touch a cut vertex (every out-edge at a cut vertex starts a chain, so
    by in/out balance none remain).  At interior pinch vertices the
    leftmost-turn rule picks the outgoing edge — the same rule the stitch
    applies at cut vertices, so the distributed decomposition matches the
    monolithic walk."""
    out_edges: dict[tuple, list] = {}
    edges = sorted(
        (
            (int(a[0]), int(a[1])), (int(b[0]), int(b[1]))
        )
        for a, b in zip(ea, eb)
    )
    remaining = set(edges)
    for a, b in edges:
        out_edges.setdefault(a, []).append(b)

    def advance(path, cur, prev, stop):
        while True:
            if stop(cur):
                return
            cand = [v for v in out_edges.get(cur, ()) if (cur, v) in remaining]
            if len(cand) == 1:
                nxt = cand[0]
            else:
                nxt = min(cand, key=_turn_key((cur[0] - prev[0], cur[1] - prev[1]), cur))
            remaining.discard((cur, nxt))
            path.append(nxt)
            prev, cur = cur, nxt

    chains, rings = [], []
    for a, b in edges:  # open chains first: every cut-vertex out-edge starts one
        if not is_cut(a) or (a, b) not in remaining:
            continue
        remaining.discard((a, b))
        path = [a, b]
        advance(path, b, a, stop=is_cut)
        chains.append(path)
    while remaining:  # interior rings: deterministic min-edge start
        a, b = min(remaining)
        remaining.discard((a, b))
        path = [a, b]  # advance appends up to and including the closing `a`
        advance(path, b, a, stop=lambda v: v == a)
        rings.append(path)
    return chains, rings


def _merge_chains(chains: list, scut) -> tuple[list, list]:
    """Per-group python chain walk — the parity oracle for the stitch
    levels of ``vectorize._walk_paths_batch``. Walk the chain graph: merge
    chain fragments end-to-start, cutting merged paths at ``scut``
    vertices. Returns (open_paths, rings): paths start and end at scut
    vertices; rings are cycles that never touch one. Pinch vertices
    resolve with the SAME leftmost-turn rule the per-tile walk applies at
    interior vertices, so the pairing is identical no matter at which
    level (tile, super-tile, global) a junction resolves.

    Chains are (n, 2) int64 vertex arrays. Input order does not matter —
    chains are processed in (first, second) vertex order (the first edge
    of a fragment is a directed unit edge, unique per fragment, so the
    first two vertices already total-order the set)."""
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


def _region_labels(seed: int, H: int, W: int) -> np.ndarray:
    """Random 3-valued grid (checkerboard for seed 7: every interior
    vertex a pinch) → 4-connected equal-value region labels."""
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 3, size=(H, W))
    if seed == 7:
        vals = (np.add.outer(np.arange(H), np.arange(W)) % 2).astype(int)
    base = np.arange(H * W, dtype=np.int64).reshape(H, W)
    label = np.empty((H, W), np.int64)
    for v in np.unique(vals):
        m = vals == v
        lab = vectorize._local_cc(m, base, conn8=False)
        label[m] = lab[m]
    return label


def _boundary_edges(label: np.ndarray):
    """Boundary-edge extraction, the per-tile convention (_SIDE_EDGES): a
    cell side survives iff the 4-neighbor across it has another label
    (out-of-grid counts as another label) → (ea, eb, label, cell row,
    cell col) per directed edge."""
    H, W = label.shape
    eas, ebs, els, ers, ecs = [], [], [], [], []
    rr, cc = np.meshgrid(np.arange(H), np.arange(W), indexing="ij")
    rr, cc = rr.ravel(), cc.ravel()
    for (dr, dc), (a_off, b_off) in vectorize._SIDE_EDGES:
        nr, nc = rr + dr, cc + dc
        inside = (nr >= 0) & (nr < H) & (nc >= 0) & (nc < W)
        same = np.zeros(len(rr), dtype=bool)
        same[inside] = label[nr[inside], nc[inside]] == label[rr[inside], cc[inside]]
        keep = ~same
        eas.append(np.stack([cc[keep] + a_off[0], rr[keep] + a_off[1]], axis=1))
        ebs.append(np.stack([cc[keep] + b_off[0], rr[keep] + b_off[1]], axis=1))
        els.append(label[rr[keep], cc[keep]])
        ers.append(rr[keep])
        ecs.append(cc[keep])
    return tuple(np.concatenate(a) for a in (eas, ebs, els, ers, ecs))


def _edge_paths(ea, eb):
    """Directed edges as 2-vertex paths in ``_walk_paths_batch``'s layout."""
    return np.stack([ea, eb], axis=1).reshape(-1, 2), np.arange(0, 2 * len(ea) + 1, 2)


def _canon_ring(p):
    core = [tuple(v) for v in p[:-1]]
    i = min(range(len(core)), key=lambda k: core[k])
    return tuple(core[i:] + core[:i])


@pytest.mark.parametrize("seed", [0, 1, 2, 7])
def test_walk_edges_batch_matches_per_label_walk(seed):
    """The vectorized successor-array walk must reproduce the per-label
    python walk exactly — open chains as identical sequences, rings as
    identical cycles up to rotation — on random multi-label grids dense
    with diagonal pinch vertices (the 2-out case the turn rule resolves)."""
    H = W = 12
    ea, eb, el, _, _ = _boundary_edges(_region_labels(seed, H, W))

    def is_cut_v(xs, ys):
        return (xs == 0) | (xs == W) | (ys == 0) | (ys == H)

    g, k, v, o = vectorize._walk_paths_batch(*_edge_paths(ea, eb), el, is_cut_v)
    wl, wk, wp = g.tolist(), k.tolist(), [v[a:b] for a, b in zip(o[:-1], o[1:])]

    got_chains, got_rings = {}, {}
    for lab, kind, p in zip(wl, wk, wp):
        if kind == 1:
            got_chains.setdefault(lab, set()).add(tuple(map(tuple, p)))
        else:
            got_rings.setdefault(lab, set()).add(_canon_ring(p))

    exp_chains, exp_rings = {}, {}
    order = np.argsort(el, kind="stable")
    el_s, ea_s, eb_s = el[order], ea[order], eb[order]
    bnds = np.flatnonzero(np.diff(el_s)) + 1
    n_edges = 0
    for s0, e0 in zip(np.r_[0, bnds], np.r_[bnds, len(el_s)]):
        chains, rings = _walk_edges(
            ea_s[s0:e0], eb_s[s0:e0],
            lambda v: v[0] == 0 or v[0] == W or v[1] == 0 or v[1] == H,
        )
        lab = int(el_s[s0])
        for p in chains:
            exp_chains.setdefault(lab, set()).add(tuple(map(tuple, p)))
        for p in rings:
            exp_rings.setdefault(lab, set()).add(_canon_ring(np.asarray(p)))
        n_edges += e0 - s0
    assert n_edges > 100  # the grid actually produced boundary work
    assert got_chains == exp_chains
    assert got_rings == exp_rings


@pytest.mark.parametrize("cut", ["super", "none"])
@pytest.mark.parametrize("seed", [0, 3, 7])
def test_walk_paths_batch_matches_merge_chains(seed, cut):
    """The stitch levels run the tile level's batched walk over vertex
    paths. On the tile chains of a multi-label grid, grouped per (label,
    super-tile) and cut at interior super-tile lines, or grouped per label
    with no cut, it must reproduce the per-group chain walk it replaced:
    open paths byte-equal, rings equal after canonical rotation."""
    H = W = 48
    T, SF = 4, 2
    ea, eb, el, er, ec = _boundary_edges(_region_labels(seed, H, W))
    # level 1: one batched walk over every (label, tile), cut at tile lines
    ntx = W // T
    tkey, tgrp = np.unique(el * ntx * ntx + (er // T) * ntx + ec // T,
                           return_inverse=True)
    g, k, v, o = vectorize._walk_paths_batch(
        *_edge_paths(ea, eb), tgrp, lambda xs, ys: (xs % T == 0) | (ys % T == 0))
    ch = np.flatnonzero(k == 1)
    paths = [v[o[i]:o[i + 1]] for i in ch]
    lab, tid = tkey[g[ch]] // (ntx * ntx), tkey[g[ch]] % (ntx * ntx)
    if cut == "super":
        skey = lab * ntx * ntx + (tid // ntx // SF) * ntx + (tid % ntx) // SF
        M = T * SF

        def scut(xs, ys):
            return ((xs % M == 0) & (xs > 0) & (xs < W)) | ((ys % M == 0) & (ys > 0) & (ys < H))
    else:
        skey = lab

        def scut(xs, ys):
            return np.zeros(len(xs), dtype=bool)

    _, sgrp = np.unique(skey, return_inverse=True)
    g2, k2, v2, o2 = vectorize._walk_paths_batch(
        np.concatenate(paths), np.r_[0, np.cumsum([len(p) for p in paths])], sgrp, scut)
    n_open = n_multi = 0
    for gi in np.unique(sgrp):
        exp_open, exp_rings = _merge_chains([paths[j] for j in np.flatnonzero(sgrp == gi)], scut)
        mine = np.flatnonzero(g2 == gi)
        got_open = sorted(v2[o2[j]:o2[j + 1]].tobytes() for j in mine if k2[j] == 1)
        got_rings = sorted(_canon_ring(v2[o2[j]:o2[j + 1]]) for j in mine if k2[j] == 2)
        assert got_open == sorted(p.tobytes() for p in exp_open), gi
        assert got_rings == sorted(_canon_ring(p) for p in exp_rings), gi
        n_open += len(got_open)
        n_multi += (sgrp == gi).sum() > 1
    assert n_multi > 50  # groups that really merge chains
    assert (n_open > 0) == (cut == "super")


def test_polygonize_rings_wkt_independent_of_partitioning(spark):
    """Ring order is a total order: a polygon whose six 1-cell holes all
    have the same area comes back as ONE WKT string per label whatever the
    input partitioning and the shuffle partition count."""
    rows = cols = 16
    vals = np.ones((rows, cols))
    for i, (r, c) in enumerate([(1, 1), (1, 9), (9, 1), (9, 9), (5, 13), (13, 5)]):
        vals[r, c] = 2.0 + i
    pdf = pd.DataFrame(
        {"band": 0, "row": np.repeat(np.arange(rows), cols),
         "col": np.tile(np.arange(cols), rows), "value": vals.ravel()}
    )
    g = Grid(x0=0.0, y0=16.0, cell=1.0, rows=rows, cols=cols)
    df = spark.createDataFrame(pdf.astype({"row": "int64", "col": "int64"}))
    seen: dict[int, set] = {}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for shuffle in (1, 4, 13):
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
            for n in (1, 3, 7):
                for r in vectorize.polygonize_rings(df.repartition(n), g, tile=8).collect():
                    seen.setdefault(r.label, set()).add(r.wkt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(seen) == 7
    assert {lab: len(w) for lab, w in seen.items()} == {lab: 1 for lab in seen}
    assert len(_parse_wkt_rings(next(iter(seen[0])))) == 7  # exterior + 6 holes


def test_int_typed_cells_match_long_typed_on_huge_grid(spark):
    """Results must not depend on int32 vs int64 (row, col) columns. On a
    70000² grid, ``row·cols`` passes 2³¹, so a key computed in int32
    overflows; the same 9 cells typed int and typed long must give
    identical focal, cluster, polygonize and ring output."""
    from pyspark.sql import functions as F

    from pyramids_spark.operators import focal

    n = 70_000
    g = Grid(x0=0.0, y0=float(n), cell=1.0, rows=n, cols=n)
    rc = [(69990, 69990), (69990, 69991), (69991, 69990), (69992, 69992),
          (69993, 69995), (69994, 69995), (69997, 69999), (69999, 69999),
          (69999, 69996)]
    pdf = pd.DataFrame({"band": 0, "row": [r for r, _ in rc], "col": [c for _, c in rc],
                        "value": [1.0, 1.0, 2.0, 1.0, 3.0, 3.0, 2.0, 2.0, 2.0]})
    longs = spark.createDataFrame(pdf.astype({"row": "int64", "col": "int64"}))
    ints = longs.select("band", F.col("row").cast("int").alias("row"),
                        F.col("col").cast("int").alias("col"), "value")
    ops = {
        "focal": lambda df: focal.focal_tiles(df, g, r=1, tile=64),
        "cluster": lambda df: vectorize.cluster(df, g, lo=0.0, hi=9.0),
        "polygonize": lambda df: vectorize.polygonize(df, g),
        "rings": lambda df: vectorize.polygonize_rings(df, g),
    }
    for name, op in ops.items():
        want = sorted(tuple(r) for r in op(longs).collect())
        assert want, name
        assert sorted(tuple(r) for r in op(ints).collect()) == want, name
