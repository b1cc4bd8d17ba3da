"""Hypothesis property tests over the kernels the distributed operators
are built on — mostly pure numpy; the raster key tests also evaluate the
Column forms in Spark to check them against their numpy twins."""

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from pyramids_spark import cells
from pyramids_spark.operators import utm
from pyramids_spark.operators.vectorize import _edge_cc_arrays

_S = dict(deadline=None, max_examples=60)


@settings(**_S)
@given(
    st.integers(min_value=0, max_value=20),
    st.lists(st.integers(min_value=0, max_value=2**20 - 1), min_size=1, max_size=50),
    st.lists(st.integers(min_value=0, max_value=2**20 - 1), min_size=1, max_size=50),
)
def test_cell_pack_unpack_roundtrip(zoom, cxs, cys):
    n = 1 << zoom
    cx = np.asarray(cxs, dtype=np.int64) % n
    cy = np.asarray(cys[: len(cxs)].copy() or [0], dtype=np.int64) % n
    m = min(len(cx), len(cy))
    cx, cy = cx[:m], cy[:m]
    ux, uy = cells.unpack(cells.pack(cx, cy, zoom), zoom)
    assert (ux == cx).all() and (uy == cy).all()


@settings(**_S)
@given(st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=64))
def test_hash_coords_always_in_range(keys):
    k = np.asarray(keys, dtype=np.int64)
    lon = cells.lon_np(cells.h1_np(k))
    lat = cells.lat_np(cells.h2_np(k))
    assert ((lon >= -180.0) & (lon < 180.0)).all()
    assert ((lat >= -90.0) & (lat < 90.0)).all()
    for zoom in (0, 5, 12):
        cx, cy = cells.geo_cell_np(lon, lat, zoom)
        n = 1 << zoom
        assert ((cx >= 0) & (cx < n)).all() and ((cy >= 0) & (cy < n)).all()


@settings(**_S)
@given(
    st.floats(min_value=-170.0, max_value=170.0),
    st.floats(min_value=-80.0, max_value=80.0),
    st.floats(min_value=0.05, max_value=30.0),
    st.integers(min_value=5, max_value=24),
    st.data(),
)
def test_convex_polygon_centroid_inside_far_point_outside(cx, cy, r, nv, data):
    # well-spread vertex angles (gap ratio ≥ 0.3) — clustered angles make a
    # sliver polygon whose vertex mean sits within float-eps of an edge,
    # which tests ray-cast boundary semantics rather than inside/outside
    gaps = np.asarray(
        data.draw(st.lists(st.floats(min_value=0.3, max_value=1.0),
                           min_size=nv, max_size=nv))
    )
    ang = 2 * np.pi * np.cumsum(gaps) / (gaps.sum() + gaps.mean())
    px = cx + r * np.cos(ang)
    py = cy + r * np.sin(ang)
    poly = np.stack([px, py], axis=1)
    centroid = np.array([px.mean()]), np.array([py.mean()])
    assert cells.points_in_polygon(*centroid, poly).all()
    far = np.array([cx + 10 * r]), np.array([cy + 10 * r])
    assert not cells.points_in_polygon(*far, poly).any()


@settings(**_S)
@given(
    st.integers(min_value=1, max_value=60),
    st.floats(min_value=-79.0, max_value=79.0),
    st.data(),
)
def test_utm_roundtrip_submm(zone, lat, data):
    lon0 = zone * 6.0 - 183.0
    lon = lon0 + data.draw(st.floats(min_value=-2.9, max_value=2.9))
    epsg = (32600 if lat >= 0 else 32700) + zone
    e, n = utm.wgs84_to_utm(np.array([lon]), np.array([lat]), epsg)
    lon2, lat2 = utm.utm_to_wgs84(e, n, epsg)
    # sub-mm: 1e-8 deg ≈ 1 mm
    assert abs(lon2[0] - lon) < 1e-8 and abs(lat2[0] - lat) < 1e-8


def _uf_reference(edges):
    parent = {}

    def find(a):
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node of each component
    out = {}
    for a in parent:
        out[a] = find(a)
    return out


@settings(**_S)
@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=200),
              st.integers(min_value=0, max_value=200)),
    min_size=1, max_size=300,
))
def test_edge_cc_matches_union_find(edges):
    ea = np.asarray([a for a, _ in edges], dtype=np.int64)
    eb = np.asarray([b for _, b in edges], dtype=np.int64)
    uniq, roots = _edge_cc_arrays(ea, eb)
    ref = _uf_reference(edges)
    got = dict(zip(uniq.tolist(), roots.tolist()))
    assert got == {k: ref[k] for k in got}


@settings(**_S)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_codec_roundtrips_any_shape(w, h, seed):
    from pyramids_spark import codecs

    rng = np.random.default_rng(seed)
    gray = rng.integers(0, 256, size=(h, w), dtype=np.int64).astype(np.uint8)
    np.testing.assert_array_equal(codecs.decode_pgm(codecs.encode_pgm(gray)), gray)
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.int64).astype(np.uint8)
    np.testing.assert_array_equal(codecs.decode_ppm(codecs.encode_ppm(rgb)), rgb)
    np.testing.assert_array_equal(codecs.decode_bmp(codecs.encode_bmp(rgb)), rgb)
    n = int(rng.integers(1, 500))
    s = rng.integers(-2**15, 2**15, size=n, dtype=np.int64).astype(np.int16)
    dec, rate = codecs.decode_wav(codecs.encode_wav(s, 44100))
    assert rate == 44100
    np.testing.assert_array_equal(dec[:, 0], s)


@settings(**_S)
@given(
    st.floats(min_value=-25.0, max_value=40.0),
    st.floats(min_value=20.0, max_value=65.0),
)
def test_conic_inverse_of_forward_is_identity(lon, lat):
    from pyramids_spark.operators import reproject as R

    for epsg, (fam, p) in R.CONIC_EPSG.items():
        if fam == "lcc":
            fwd, inv = R.lcc_xy_np, R.inv_lcc_np
        else:
            fwd, inv = R.albers_xy_np, R.inv_albers_np
        x, y = fwd(np.array([lon]), np.array([lat]), p)
        ilon, ilat = inv(x, y, p)
        assert abs(ilon[0] - lon) < 1e-7
        assert abs(ilat[0] - lat) < 1e-7


@settings(**_S)
@given(
    st.integers(min_value=0, max_value=4000),
    st.sampled_from(["blosclz", "lz4", "zlib", "zstd", "snappy"]),
    st.sampled_from([1, 2, 4, 8, 3, 16]),
    st.sampled_from([0, 1, 2]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_blosc_roundtrip_property(n, cname, typesize, shuffle, seed):
    from pyramids_spark import blosc as B

    rng = np.random.default_rng(seed)
    # mixed compressibility: runs + noise
    data = np.where(rng.random(n) < 0.7, 7, rng.integers(0, 256, n)) \
        .astype(np.uint8).tobytes()
    chunk = B.encode_blosc(data, typesize, cname, 3, shuffle=shuffle)
    assert B.decode_blosc(chunk) == data


@settings(**_S)
@given(
    st.integers(min_value=0, max_value=3000),
    st.floats(min_value=0.0, max_value=1.0),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_blosclz_raw_roundtrip_property(n, density, seed):
    from pyramids_spark import blosc as B

    rng = np.random.default_rng(seed)
    # density sweeps run-heavy -> noisy payloads (match/literal mixes)
    data = np.where(rng.random(n) < density, rng.integers(0, 256, n),
                    rng.integers(0, 3, n)).astype(np.uint8).tobytes()
    enc = B.blosclz_compress(data)
    assert B.blosclz_decompress(enc, n) == data


@settings(**_S)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=600),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_rle8_roundtrip_property(h, w, seed):
    from pyramids_spark import codecs as C

    rng = np.random.default_rng(seed)
    # low-cardinality images exercise long runs AND 255-run splits
    gray = rng.integers(0, 4, (h, w), dtype=np.uint8) * 80
    np.testing.assert_array_equal(
        C.decode_image(C.encode_bmp_rle8(gray)), gray)


@settings(**_S)
@given(
    st.integers(min_value=2, max_value=1200),
    st.integers(min_value=1, max_value=2),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_ima_adpcm_length_and_bound_property(n, ch, seed):
    from pyramids_spark import codecs as C

    rng = np.random.default_rng(seed)
    # band-limited-ish signal: cumulative steps the codec can track
    s = np.cumsum(rng.integers(-800, 801, (n, ch)), axis=0)
    s = np.clip(s, -32768, 32767).astype(np.int16)
    out, rate = C.decode_wav(C.encode_wav_ima(s, 8000,
                                              samples_per_block=65))
    assert out.shape == (n, ch) and rate == 8000
    err = np.abs(out.astype(int) - s.astype(int))
    assert err.max() <= 2048  # bounded by a few adapted steps


@settings(**_S)
@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=50),
    st.sampled_from(["<f4", "<f8"]),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_tiff_predictor3_exact_inverse_property(h, w, dt, spp, seed):
    from pyramids_spark.tiff import _predict3, _unpredict3

    rng = np.random.default_rng(seed)
    esize = np.dtype(dt).itemsize
    arr = rng.normal(0, 1e6, (h, w * spp)).astype(dt)
    enc = _predict3(arr, spp)
    back = _unpredict3(
        np.frombuffer(enc, np.uint8).reshape(h, w * spp * esize),
        esize, spp)
    got = np.frombuffer(back.tobytes(), ">" + dt[1:]).reshape(h, w * spp)
    np.testing.assert_array_equal(got.astype(dt), arr)


@settings(**_S)
@given(
    st.integers(min_value=1, max_value=300),
    st.sampled_from(["mu", "a"]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_g711_idempotent_on_representable_levels(n, law, seed):
    from pyramids_spark import codecs as C

    rng = np.random.default_rng(seed)
    table = (C._mulaw_decode if law == "mu" else C._alaw_decode)(
        np.arange(256, dtype=np.uint8))
    s = table[rng.integers(0, 256, n)].astype(np.int16)
    out, _ = C.decode_wav(C.encode_wav_g711(s, 8000, law=law))
    # encoding a representable level must return exactly that level
    np.testing.assert_array_equal(out[:, 0], s)


# --- raster key formats (pyramids_spark.keys) ------------------------------

_I31 = 2**31 - 1
_coord = st.one_of(st.integers(-_I31, _I31), st.sampled_from([-_I31, _I31, -1, 0, 1]))


@settings(deadline=None, max_examples=15)
@given(st.lists(st.tuples(_coord, _coord), min_size=1, max_size=40))
def test_pack_rc_roundtrips_int_and_long_columns(spark, cells_rc):
    """pack_rc/unpack_rc round-trip exactly for int AND long inputs over
    the whole signed 32-bit range, and the Column forms are bit-equal to
    their numpy twins."""
    from pyspark.sql import functions as F

    from pyramids_spark import keys

    r = np.array([a for a, _ in cells_rc], np.int64)
    c = np.array([b for _, b in cells_rc], np.int64)
    rc_np = keys.pack_rc_np(r, c)
    rr_np, cc_np = keys.unpack_rc_np(rc_np)
    assert (rr_np == r).all() and (cc_np == c).all()
    df = spark.createDataFrame([(int(a), int(b)) for a, b in zip(r, c)], "row long, col long")
    for typ in ("int", "long"):
        typed = df.select(F.col("row").cast(typ).alias("row"), F.col("col").cast(typ).alias("col"))
        rc = keys.pack_rc("row", "col")
        rr, cc = keys.unpack_rc(rc)
        got = typed.select(rc.alias("rc"), rr.alias("rr"), cc.alias("cc")).collect()
        assert [x.rc for x in got] == rc_np.tolist()
        assert [x.rr for x in got] == r.tolist()
        assert [x.cc for x in got] == c.tolist()


@settings(deadline=None, max_examples=15)
@given(
    st.integers(1, 40), st.integers(1, 40), st.integers(1, 9), st.integers(1, 9),
    st.integers(0, 9), st.randoms(use_true_random=False),
)
def test_tile_key_and_halo_tiles_match_numpy_and_brute_force(spark, rows, cols, th, tw, r, rnd):
    """tile_key equals numpy floor division at and beyond the grid edges;
    tile_window inverts it; halo_tiles (Column and numpy twin) equals the
    brute-force set of tiles whose window, grown by r, holds the cell."""
    from pyramids_spark import keys

    r = min(r, th, tw)
    nti, ntj = keys.n_tiles(rows, cols, th, tw)
    edges_r = [-th, -1, 0, th - 1, th, rows - 1, rows, rows + th]
    edges_c = [-tw, -1, 0, tw - 1, tw, cols - 1, cols, cols + tw]
    cells_rc = [(a, b) for a in edges_r for b in edges_c] + [
        (rnd.randrange(rows), rnd.randrange(cols)) for _ in range(30)]
    row = np.array([a for a, _ in cells_rc], np.int64)
    col = np.array([b for _, b in cells_rc], np.int64)
    df = spark.createDataFrame([(int(a), int(b)) for a, b in cells_rc], "row int, col int")
    got = df.select(keys.tile_key("row", "col", th, tw, ntj).alias("k"),
                    keys.halo_tiles("row", "col", th, tw, rows, cols, r).alias("h")).collect()
    tk_np = keys.tile_key_np(row, col, th, tw, ntj)
    assert [x.k for x in got] == tk_np.tolist()
    assert tk_np.tolist() == [(a // th) * ntj + b // tw for a, b in cells_rc]
    halo_np = keys.halo_tiles_np(row, col, th, tw, rows, cols, r)
    assert [list(x.h) for x in got] == [h.tolist() for h in halo_np]
    for (a, b), k, h in zip(cells_rc, tk_np, halo_np):
        if not (0 <= a < rows and 0 <= b < cols):
            continue
        ti, tj, r0, c0, hh, ww = keys.tile_window(k, th, tw, rows, cols)
        assert (ti, tj) == (a // th, b // tw)
        assert r0 <= a < r0 + hh and c0 <= b < c0 + ww
        want = {
            ki * ntj + kj for ki in range(nti) for kj in range(ntj)
            if ki * th - r <= a < ki * th + min(th, rows - ki * th) + r
            and kj * tw - r <= b < kj * tw + min(tw, cols - kj * tw) + r
        }
        assert h[0] == k and len(set(h.tolist())) == len(h)
        assert set(h.tolist()) == want, (a, b)


def test_check_extent_rejects_each_edge():
    from pyramids_spark import keys

    keys.check_extent(np.array([0, 4]), np.array([0, 6]), 5, 7)
    keys.check_extent(np.array([], np.int64), np.array([], np.int64), 5, 7)
    for rr, cc in ((-1, 0), (5, 0), (0, -1), (0, 7)):
        with pytest.raises(ValueError, match="outside grid extent"):
            keys.check_extent(np.array([rr]), np.array([cc]), 5, 7)


# one ring vertex coordinate: a cell edge, a cell centre (computed as the
# kernels' callers compute it) or an eighth-cell offset, in cell units from
# two cells before the grid to two cells past it (clamping)
_COORD = st.tuples(st.integers(min_value=-2, max_value=9),
                   st.sampled_from(["edge", "centre", 1, 3, 5, 7]))
_RING = st.tuples(
    st.lists(st.tuples(_COORD, _COORD), min_size=1, max_size=7),
    st.booleans(),  # close the ring (repeat the first vertex)
    st.integers(min_value=-1, max_value=6),  # vertex to repeat in place (-1: none)
)


def _ring_coords(ring, lo, hi):
    """Map drawn (cell, kind) pairs through an axis's own cell bounds."""
    pts, close, rep = ring

    def coord(c, kind, axis):
        a, b = lo[axis](c), hi[axis](c)
        if kind == "edge":
            return a
        return (a + b) / 2.0 if kind == "centre" else a + (b - a) * kind / 8.0

    v = [(coord(cx, kx, 0), coord(cy, ky, 1)) for (cx, kx), (cy, ky) in pts]
    if 0 <= rep < len(v):
        v.insert(rep, v[rep])
    if close:
        v.append(v[0])
    return np.asarray(v, dtype=np.float64)


# a closed concave L with a repeated vertex, a ring partly outside the
# grid, a single vertex and a closed segment
_PINNED_RINGS = [
    ([((0, "edge"), (6, "centre")), ((5, "centre"), (6, "centre")), ((5, "centre"), (3, 3)),
      ((2, 5), (3, 3)), ((2, 5), (0, "edge")), ((0, "edge"), (0, "edge"))], True, 2),
    ([((-2, 3), (1, "centre")), ((9, "edge"), (2, 1)), ((4, "centre"), (9, 7))], False, -1),
    ([((3, "centre"), (3, "centre"))], False, -1),
    ([((1, "edge"), (1, "edge")), ((6, "centre"), (2, 5))], True, -1),
]


@settings(deadline=None, max_examples=150)
@example(3, _PINNED_RINGS)
@example(3, [([((0, "edge"), (7, "edge")), ((0, "edge"), (7, "edge"))], False, 0)])
@given(st.integers(min_value=2, max_value=3), st.lists(_RING, min_size=1, max_size=5))
def test_polygon_kernel_matches_per_cell_oracle(zoom, rings):
    """The row-run kernel ≡ the per-cell references it replaced, cells and
    boundary flags, in both modes: concave and self-crossing rings, repeated
    vertices, open and closed rings, vertices on cell centres and edges,
    rings partly outside the grid and rings of fewer than 3 vertices (a
    point or a segment still touches cells in intersects mode)."""
    from cover_oracles import _part_cover_np, _parts_cover_batch

    n = 1 << zoom
    w, h = cells.LON_SPAN / n, 180.0 / n
    geo = [_ring_coords(r, (lambda c: cells.LON_MIN + c * w, lambda c: 90.0 - c * h - h),
                        (lambda c: cells.LON_MIN + c * w + w, lambda c: 90.0 - c * h))
           for r in rings]
    xs, ys = [p[:, 0] for p in geo], [p[:, 1] for p in geo]
    for mode in ("center", "intersects"):
        for sel, X, Y in cells.ring_batches(xs, ys):
            got = cells.polygon_cover(X, Y, zoom, mode)
            exp = _parts_cover_batch(X, Y, zoom, mode)
            for g, e in zip(got, exp):
                assert g.tolist() == e.tolist(), mode
            for i, r in enumerate(sel):
                # the per-part oracle fails on a ring of one distinct vertex
                # (its ray-cast drops the closing vertex twice)
                if len(np.unique(geo[r], axis=0)) < 2:
                    continue
                c, b = _part_cover_np(geo[r], zoom, mode)
                m = got[0] == i
                assert got[1][m].tolist() == c.tolist(), mode
                assert got[2][m].tolist() == b.tolist(), mode
            assert cells.cells_covering_polygon(geo[sel[0]], zoom, mode).tolist() == \
                got[1][got[0] == 0].tolist()


@settings(deadline=None, max_examples=100)
@example(_PINNED_RINGS + _PINNED_RINGS[:1])
@given(st.lists(_RING, min_size=1, max_size=5))
def test_zone_runs_match_per_cell_labels(rings):
    """Zone label runs ≡ the driver meshgrid labels (centre inside, lowest
    zone id wins) on a raster grid, with overlapping zones listed out of
    id order; the runs come out disjoint and in (row, c0) order."""
    from cover_oracles import zone_label_cells

    from pyramids_spark.grid import Grid
    from pyramids_spark.operators import zonal

    grid = Grid(x0=10.0, y0=20.0, cell=0.5, rows=8, cols=8)
    polys = [_ring_coords(r, (lambda c: grid.x0 + c * grid.cell,
                              lambda c: grid.y0 - c * grid.cell - grid.cell),
                          (lambda c: grid.x0 + c * grid.cell + grid.cell,
                           lambda c: grid.y0 - c * grid.cell))
             for r in rings]
    zones = [{"zone_id": len(polys) - i, "parts": [p]} for i, p in enumerate(polys)]
    runs = zonal.zone_runs(zones, grid)
    got = {(int(r.row), c): int(r.zone_id)
           for r in runs.itertuples() for c in range(r.c0, r.c1 + 1)}
    assert len(got) == int((runs.c1 - runs.c0 + 1).sum())  # disjoint
    key = (runs.row * grid.cols + runs.c0).to_numpy()
    assert (np.diff(key) > 0).all()
    # the oracle's ray-cast drops a closing vertex and fails on the empty
    # ring that leaves behind; such a ring covers no centre anyway
    exp = zone_label_cells(
        [{"zone_id": z["zone_id"], "parts": [p for p in z["parts"]
                                             if len(p) - np.allclose(p[0], p[-1]) >= 1]}
         for z in zones], grid)
    assert got == {(int(r.row), int(r.col)): int(r.zone_id) for r in exp.itertuples()}
