"""GeoTIFF writer/reader (pure struct/numpy): header golden bytes, round
trip, overview pyramid, multiband, empty tiles, nodata tag."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyramids_spark.api import SparkDataset
from pyramids_spark.grid import COELLO, Grid, grid_df
from pyramids_spark.operators import raster


def test_geotiff_header_golden_bytes(spark, tmp_path):
    p = str(tmp_path / "a.tif")
    g = Grid(x0=5.0, y0=9.0, cell=0.25, rows=6, cols=8, epsg=32618, nodata=-1.0)
    SparkDataset.create(spark, g, "CAST(row * 8 + col AS DOUBLE)").to_cog(
        p, levels=(), tile=(4, 4)
    )
    raw = open(p, "rb").read()
    bo, magic, ifd0 = struct.unpack_from("<2sHI", raw, 0)
    assert bo == b"II" and magic == 42
    (n_tags,) = struct.unpack_from("<H", raw, ifd0)
    tags = {}
    for i in range(n_tags):
        t, typ, cnt, val = struct.unpack_from("<HHII", raw, ifd0 + 2 + 12 * i)
        tags[t] = (typ, cnt, val)
    assert tags[256][2] == 8 and tags[257][2] == 6        # width / height
    assert tags[322][2] == 4 and tags[323][2] == 4        # tile w/h
    assert tags[259][2] == 1 and tags[339][2] == 3        # uncompressed float
    assert tags[258][2] == 64
    assert tags[324][1] == 4  # 2x2 tile grid → 4 offsets
    # pixel scale + tiepoint carry the grid
    scale = struct.unpack_from("<3d", raw, tags[33550][2])
    tie = struct.unpack_from("<6d", raw, tags[33922][2])
    assert scale[0] == 0.25 and tie[3] == 5.0 and tie[4] == 9.0
    # geokeys carry the EPSG as a projected CS
    gk = struct.unpack_from("<16H", raw, tags[34735][2])
    assert gk[3] == 3 and 3072 in gk and 32618 in gk
    # nodata ascii
    typ, cnt, off = tags[42113]
    assert raw[off:off + cnt].rstrip(b"\x00") == b"-1"
    # first tile bytes decode to the top-left block
    off0 = struct.unpack_from("<4I", raw, tags[324][2])[0]
    blk = np.frombuffer(raw[off0:off0 + 4 * 4 * 8], "<f8").reshape(4, 4)
    exp = np.arange(48, dtype=np.float64).reshape(6, 8)[:4, :4]
    np.testing.assert_array_equal(blk, exp)


def test_geotiff_roundtrip_with_overviews_and_empty_tiles(spark, tmp_path):
    p = str(tmp_path / "b.tif")
    g = COELLO
    src = grid_df(spark, g)
    ds = SparkDataset(src.where((F.col("row") < 5) | (F.col("col") > 10)), g)
    ds.to_cog(p, levels=(2,), tile=(4, 4))
    back = SparkDataset.from_geotiff(spark, p)
    assert back.grid == g
    a = {(r.band, r.row, r.col): r.value
         for r in ds.df.where(F.col("value").isNotNull()).collect()}
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b and len(a) > 0
    # overview level ≡ the avg rollup of the kept cells
    ov = SparkDataset.from_geotiff(spark, p, overview=1)
    assert ov.grid.cell == g.cell * 2 and ov.grid.rows == (g.rows + 1) // 2
    want = {
        (r.band, r.row, r.col): r.value
        for r in raster.overview_rollup(ds.df, level=2, stat="avg").collect()
    }
    got = {(r.band, r.row, r.col): r.value for r in ov.df.collect()}
    assert got == want and len(got) > 0


def test_geotiff_multiband_nan_nodata(spark, tmp_path):
    p = str(tmp_path / "c.tif")
    g = Grid(x0=0.0, y0=4.0, cell=1.0, rows=4, cols=5, epsg=4326, nodata=None)
    ds = SparkDataset.create(spark, g, "CAST(band * 100 + row * 5 + col AS DOUBLE)", bands=3)
    d = ds.df.where((F.col("col") + F.col("band")) % 4 != 0)
    SparkDataset(d, g).to_cog(p, levels=(), tile=(4, 4))
    back = SparkDataset.from_geotiff(spark, p)
    assert back.grid.nodata is None and back.grid.epsg == 4326
    a = {(r.band, r.row, r.col): r.value for r in d.collect()}
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b and len({k[0] for k in b}) == 3


def _chunky_rgb_fixture(tmp_path, planar=1, bits=(8, 8, 8), name="rgb.tif"):
    """Hand-build a chunky interleaved uint8 RGB strip TIFF: LZW strips
    with Predictor 2 (per-sample-lane differencing), BitsPerSample as an
    external 3-SHORT array. Returns (path, (rows, cols, 3) image)."""
    from pyramids_spark import lzw

    rows, cols, rps, spp = 5, 4, 2, 3
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (rows, cols, spp), dtype=np.uint8)
    strips = []
    for s0 in range(0, rows, rps):
        seg = img[s0:s0 + rps]
        d = seg.copy()
        d[:, 1:, :] -= seg[:, :-1, :]  # Predictor 2, lane-wise (uint8 wrap)
        strips.append(lzw.encode(d.reshape(d.shape[0], -1).tobytes()))
    n_strips = len(strips)
    n_tags = 12
    ifd_at = 8
    p_bits = ifd_at + 2 + n_tags * 12 + 4
    p_off = p_bits + 6
    p_cnt = p_off + 4 * n_strips
    data_at = p_cnt + 4 * n_strips
    offs, cur = [], data_at
    for s in strips:
        offs.append(cur)
        cur += len(s)
    tags = sorted([
        (256, 4, 1, cols), (257, 4, 1, rows), (258, 3, 3, p_bits),
        (259, 3, 1, 5), (262, 3, 1, 2),
        (273, 4, n_strips, p_off), (277, 3, 1, spp), (278, 4, 1, rps),
        (279, 4, n_strips, p_cnt), (284, 3, 1, planar), (317, 3, 1, 2),
        (339, 3, 1, 1),
    ])
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    buf += struct.pack("<H", n_tags)
    for t in tags:
        buf += struct.pack("<HHII", *t)
    buf += struct.pack("<I", 0)
    buf += struct.pack("<3H", *bits)
    buf += struct.pack(f"<{n_strips}I", *offs)
    buf += struct.pack(f"<{n_strips}I", *[len(s) for s in strips])
    for s in strips:
        buf += s
    p = tmp_path / name
    p.write_bytes(bytes(buf))
    return str(p), img


def test_geotiff_reads_chunky_interleaved_rgb(spark, tmp_path):
    """SamplesPerPixel=3 chunky interleaved (the wild RGB-imagery layout):
    one IFD fans out into 3 engine bands; LZW + Predictor 2 difference
    per sample LANE, short last strip included."""
    p, img = _chunky_rgb_fixture(tmp_path)
    back = SparkDataset.from_geotiff(spark, p)
    assert back.grid.rows == 5 and back.grid.cols == 4
    got = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    exp = {(s, r, c): float(img[r, c, s])
           for s in range(3) for r in range(5) for c in range(4)}
    assert got == exp


def test_geotiff_interleaved_rejects(spark, tmp_path):
    """Planar (separate-plane) organization and mixed per-sample depths
    stay loud rejects."""
    p, _ = _chunky_rgb_fixture(tmp_path, planar=2, name="pl2.tif")
    with pytest.raises(NotImplementedError, match="PlanarConfiguration 2"):
        SparkDataset.from_geotiff(spark, p)
    p, _ = _chunky_rgb_fixture(tmp_path, bits=(8, 8, 16), name="mix.tif")
    with pytest.raises(NotImplementedError, match="mixed per-sample"):
        SparkDataset.from_geotiff(spark, p)


def test_geotiff_reader_rejects_foreign(tmp_path, spark):
    p = tmp_path / "x.tif"
    p.write_bytes(struct.pack("<2sHI", b"MM", 42, 8))
    with pytest.raises(NotImplementedError):
        SparkDataset.from_geotiff(spark, str(p))


def test_geotiff_deflate_roundtrip(spark, tmp_path):
    """Compression=8 (DEFLATE) tiles: smaller file, identical cells; raw
    and deflated stores round-trip to the same table."""
    import zlib

    p = str(tmp_path / "d.tif")
    praw = str(tmp_path / "draw.tif")
    g = COELLO
    ds = SparkDataset(grid_df(spark, g), g)
    n_c = ds.to_cog(p, levels=(2,), tile=(8, 8), compress=6)
    n_r = ds.to_cog(praw, levels=(2,), tile=(8, 8))
    assert n_c < n_r  # deflate actually shrinks the payload
    raw = open(p, "rb").read()
    # Compression tag value is 8
    ifd0 = struct.unpack_from("<I", raw, 4)[0]
    (n_tags,) = struct.unpack_from("<H", raw, ifd0)
    tags = {t: (typ, cnt, val) for t, typ, cnt, val in
            (struct.unpack_from("<HHII", raw, ifd0 + 2 + 12 * i) for i in range(n_tags))}
    assert tags[259][2] == 8
    # first tile decompresses to the dense top-left block
    off = struct.unpack_from("<I", raw, tags[324][2])[0]
    cnt = struct.unpack_from("<I", raw, tags[325][2])[0]
    blk = np.frombuffer(zlib.decompress(raw[off:off + cnt]), "<f8").reshape(8, 8)
    assert blk.shape == (8, 8)
    for back_path in (p, praw):
        back = SparkDataset.from_geotiff(spark, back_path)
        a = {(r.band, r.row, r.col): r.value
             for r in ds.df.where(F.col("value").isNotNull()).collect()}
        b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
        assert a == b and back.grid == g


def test_geotiff_reads_foreign_strip_layout(spark, tmp_path):
    """Most real GeoTIFFs are STRIP-organized: hand-build one (float64,
    RowsPerStrip=3, SHORT last strip, no nodata tag) and read it."""
    rows, cols, rps = 7, 4, 3
    vals = np.arange(rows * cols, dtype="<f8").reshape(rows, cols)
    strips = [vals[s: s + rps].tobytes() for s in range(0, rows, rps)]
    n_strips = len(strips)

    # layout: header(8) | IFD | offsets arr | counts arr | scale | tie | data
    n_tags = 10
    ifd_at = 8
    p_off = ifd_at + 2 + n_tags * 12 + 4
    p_cnt = p_off + 4 * n_strips
    p_scale = p_cnt + 4 * n_strips
    p_tie = p_scale + 24
    data_at = p_tie + 48
    offs, cur = [], data_at
    for s in strips:
        offs.append(cur)
        cur += len(s)
    tags = sorted([
        (256, 4, 1, cols), (257, 4, 1, rows), (258, 3, 1, 64),
        (259, 3, 1, 1), (262, 3, 1, 1),
        (273, 4, n_strips, p_off), (278, 4, 1, rps),
        (279, 4, n_strips, p_cnt), (339, 3, 1, 3),
        (33550, 12, 3, p_scale),
    ])
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    buf += struct.pack("<H", n_tags)
    for t in tags:
        buf += struct.pack("<HHII", *t)
    buf += struct.pack("<I", 0)
    buf += struct.pack(f"<{n_strips}I", *offs)
    buf += struct.pack(f"<{n_strips}I", *[len(s) for s in strips])
    buf += struct.pack("<3d", 2.0, 2.0, 0.0)
    buf += struct.pack("<6d", 0.0, 0.0, 0.0, 100.0, 200.0, 0.0)
    for s in strips:
        buf += s
    # tiepoint tag omitted from the IFD on purpose: defaults apply
    p = tmp_path / "strip.tif"
    p.write_bytes(bytes(buf))

    back = SparkDataset.from_geotiff(spark, str(p))
    assert back.grid.rows == rows and back.grid.cols == cols
    assert back.grid.cell == 2.0 and back.grid.nodata is None
    got = {(r.row, r.col): r.value for r in back.df.collect()}
    exp = {(r, c): float(vals[r, c]) for r in range(rows) for c in range(cols)
           if not np.isnan(vals[r, c])}
    assert got == exp and len(got) == rows * cols


def test_geotiff_reads_two_strip_short_arrays(spark, tmp_path):
    """ADVICE r4: two SHORTs (4 bytes) inline in the tag value field per
    TIFF 6.0 — a foreign 2-strip file with SHORT StripOffsets/ByteCounts
    must decode from the value field, not seek to a garbage offset."""
    rows, cols, rps = 4, 3, 2
    vals = np.arange(rows * cols, dtype="<f8").reshape(rows, cols)
    strips = [vals[s: s + rps].tobytes() for s in range(0, rows, rps)]
    assert len(strips) == 2

    n_tags = 10
    ifd_at = 8
    p_scale = ifd_at + 2 + n_tags * 12 + 4
    p_tie = p_scale + 24
    data_at = p_tie + 48
    offs = [data_at, data_at + len(strips[0])]
    assert offs[1] < 65536  # SHORT-representable offsets
    pack2 = lambda a, b: struct.unpack("<I", struct.pack("<HH", a, b))[0]
    tags = sorted([
        (256, 4, 1, cols), (257, 4, 1, rows), (258, 3, 1, 64),
        (259, 3, 1, 1), (262, 3, 1, 1),
        (273, 3, 2, pack2(*offs)), (278, 4, 1, rps),
        (279, 3, 2, pack2(len(strips[0]), len(strips[1]))),
        (339, 3, 1, 3), (33550, 12, 3, p_scale),
    ])
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    buf += struct.pack("<H", n_tags)
    for t in tags:
        buf += struct.pack("<HHII", *t)
    buf += struct.pack("<I", 0)
    buf += struct.pack("<3d", 1.0, 1.0, 0.0)
    buf += struct.pack("<6d", 0.0, 0.0, 0.0, 10.0, 20.0, 0.0)
    for s in strips:
        buf += s
    p = tmp_path / "two_strip.tif"
    p.write_bytes(bytes(buf))

    back = SparkDataset.from_geotiff(spark, str(p))
    assert back.grid.rows == rows and back.grid.cols == cols
    got = {(r.row, r.col): r.value for r in back.df.collect()}
    exp = {(r, c): float(vals[r, c]) for r in range(rows) for c in range(cols)}
    assert got == exp


def test_geotiff_write_rejects_out_of_extent_cells(spark, tmp_path):
    """ADVICE r4: a cell beyond the grid extent (or negative) must fail
    loudly instead of silently fill-padding every later tile."""
    g = Grid(x0=0.0, y0=8.0, cell=1.0, rows=8, cols=8, epsg=4326, nodata=-9.0)
    base = grid_df(spark, g)
    for bad_row, bad_col in ((9, 0), (-1, 2)):
        extra = spark.createDataFrame(
            [(0, bad_row, bad_col, 1.0)], "band long, row long, col long, value double"
        )
        ds = SparkDataset(base.unionByName(extra), g)
        with pytest.raises(Exception, match="outside grid extent|unconsumed"):
            ds.to_cog(str(tmp_path / "bad.tif"), levels=(), tile=(4, 4))


def test_geotiff_dtype_roundtrips(spark, tmp_path):
    """VERDICT r4 #2: multi-dtype stores. int16/uint8/float32/int32 COGs
    (with an averaged+rounded overview for the int cases) round-trip the
    COELLO generator exactly; BitsPerSample/SampleFormat tags match."""
    from dataclasses import replace

    cases = [
        ("int16", COELLO, (3, 1, 16, 2)),      # (comp, _, bits, sfmt)
        ("uint8", replace(COELLO, nodata=255.0), (None, 1, 8, 1)),
        ("int32", COELLO, (6, 1, 32, 2)),
        ("float32", COELLO, (6, 1, 32, 3)),
    ]
    for name, g, (compress, _, bits, sfmt) in cases:
        p = str(tmp_path / f"{name}.tif")
        ds = SparkDataset(grid_df(spark, g), g)
        ds.to_cog(p, levels=(2,), tile=(8, 8), compress=compress, dtype=name)
        raw = open(p, "rb").read()
        _, _, ifd0 = struct.unpack_from("<2sHI", raw, 0)
        (n_tags,) = struct.unpack_from("<H", raw, ifd0)
        tags = {}
        for i in range(n_tags):
            t, typ, cnt, val = struct.unpack_from("<HHII", raw, ifd0 + 2 + 12 * i)
            tags[t] = val
        assert tags[258] == bits and tags[339] == sfmt
        back = SparkDataset.from_geotiff(spark, p)
        assert back.grid == g
        a = {(r.band, r.row, r.col): r.value for r in ds.df.collect()}
        b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
        assert a == b and len(a) == 182
        # overview level decodes too (rounded average for int dtypes)
        ov = SparkDataset.from_geotiff(spark, p, overview=1)
        assert ov.df.count() > 0


def test_geotiff_int_dtype_guards(spark, tmp_path):
    """Integer stores fail LOUDLY on unrepresentable nodata or fractional
    values — never wrap/truncate silently."""
    from dataclasses import replace

    g = COELLO
    ds = SparkDataset(grid_df(spark, g), g)
    with pytest.raises(ValueError, match="not exactly representable"):
        ds.to_cog(str(tmp_path / "a.tif"), levels=(), dtype="uint8")  # -9999
    g2 = replace(COELLO, nodata=None)
    with pytest.raises(ValueError, match="explicit grid nodata"):
        SparkDataset(grid_df(spark, g2), g2).to_cog(
            str(tmp_path / "b.tif"), levels=(), dtype="int16"
        )
    frac = SparkDataset(
        grid_df(spark, g, "CAST(row + 0.5 AS DOUBLE)"), g
    )
    with pytest.raises(Exception, match="not exactly representable"):
        frac.to_cog(str(tmp_path / "c.tif"), levels=(), dtype="int16")
    with pytest.raises(NotImplementedError, match="unsupported storage dtype"):
        ds.to_cog(str(tmp_path / "d.tif"), levels=(), dtype="complex-float32")


def test_geotiff_reads_foreign_uint8_strip_no_sampleformat(spark, tmp_path):
    """A wild uint8 strip TIFF (no SampleFormat tag — absent ≙ unsigned
    per TIFF 6.0, no nodata tag) decodes and widens to float64."""
    rows, cols, rps = 5, 6, 2
    vals = (np.arange(rows * cols, dtype="u1") * 7 % 251).reshape(rows, cols)
    strips = [vals[s: s + rps].tobytes() for s in range(0, rows, rps)]
    n_strips = len(strips)
    n_tags = 9
    ifd_at = 8
    p_off = ifd_at + 2 + n_tags * 12 + 4
    p_cnt = p_off + 4 * n_strips
    p_scale = p_cnt + 4 * n_strips
    data_at = p_scale + 24
    offs, cur = [], data_at
    for s in strips:
        offs.append(cur)
        cur += len(s)
    tags = sorted([
        (256, 4, 1, cols), (257, 4, 1, rows), (258, 3, 1, 8),
        (259, 3, 1, 1), (262, 3, 1, 1),
        (273, 4, n_strips, p_off), (278, 4, 1, rps),
        (279, 4, n_strips, p_cnt),
        (33550, 12, 3, p_scale),
    ])
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    buf += struct.pack("<H", n_tags)
    for t in tags:
        buf += struct.pack("<HHII", *t)
    buf += struct.pack("<I", 0)
    buf += struct.pack(f"<{n_strips}I", *offs)
    buf += struct.pack(f"<{n_strips}I", *[len(s) for s in strips])
    buf += struct.pack("<3d", 0.5, 0.5, 0.0)
    for s in strips:
        buf += s
    p = tmp_path / "u8_strip.tif"
    p.write_bytes(bytes(buf))

    back = SparkDataset.from_geotiff(spark, str(p))
    assert back.grid.rows == rows and back.grid.cols == cols
    got = {(r.row, r.col): r.value for r in back.df.collect()}
    exp = {(r, c): float(vals[r, c]) for r in range(rows) for c in range(cols)}
    assert got == exp


def test_bigtiff_roundtrip_and_golden_header(spark, tmp_path):
    """VERDICT r4 #4: BigTIFF (version 43, 8-byte offsets, 20-byte IFD
    entries, LONG8 offset arrays) round-trips; header golden bytes."""
    p = str(tmp_path / "big.tif")
    g = COELLO
    ds = SparkDataset(grid_df(spark, g), g)
    ds.to_cog(p, levels=(2,), tile=(8, 8), compress=4, bigtiff=True)
    raw = open(p, "rb").read()
    bo, magic, bs, zero, ifd0 = struct.unpack_from("<2sHHHQ", raw, 0)
    assert bo == b"II" and magic == 43 and bs == 8 and zero == 0
    (n_tags,) = struct.unpack_from("<Q", raw, ifd0)
    tags = {}
    for i in range(int(n_tags)):
        t, typ, cnt, val = struct.unpack_from("<HHQQ", raw, ifd0 + 8 + 20 * i)
        tags[t] = (typ, cnt, val)
    assert tags[324][0] == 16 and tags[325][0] == 16  # LONG8 arrays
    back = SparkDataset.from_geotiff(spark, p)
    assert back.grid == g
    a = {(r.band, r.row, r.col): r.value for r in ds.df.collect()}
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b


def test_bigtiff_auto_switch_layout_over_4gib(spark):
    """bigtiff=None auto-switches past the classic cap: a synthetic
    30000x30000 float64 layout (7.2 GB raw) must CHOOSE BigTIFF and place
    its last tile offset past 2^32 — layout arithmetic only, nothing is
    streamed (the classic path used to hard-fail here)."""
    from pyramids_spark import tiff as _tiff

    g = Grid(x0=0.0, y0=3e6, cell=100.0, rows=30000, cols=30000,
             epsg=32618, nodata=-1.0)
    ifds = [_tiff._Ifd(g.rows, g.cols, 256, 256, is_overview=False)]
    v = _tiff._Variant(False)
    nod = len(_tiff._nodata_ascii(g.nodata, v.inline))
    _, ds_classic = _tiff._layout(ifds, nod, v)
    raw_total = ds_classic + ifds[0].n_tiles * ifds[0].tile_bytes
    assert raw_total > 2**32 - 1  # classic genuinely cannot hold it
    vb = _tiff._Variant(True)
    ifds2 = [_tiff._Ifd(g.rows, g.cols, 256, 256, is_overview=False)]
    nod8 = len(_tiff._nodata_ascii(g.nodata, vb.inline))
    ifd_pos, ds_big = _tiff._layout(ifds2, nod8, vb)
    last_off = ds_big + (ifds2[0].n_tiles - 1) * ifds2[0].tile_bytes
    assert last_off > 2**32 - 1  # needs LONG8 — and the variant has it
    # and the single-file writer refuses classic loudly
    src = SparkDataset.create(spark, g, "CAST(1 AS DOUBLE)")
    with pytest.raises(ValueError, match="classic TIFF caps"):
        _tiff.write_geotiff([(src.df, g)], "/tmp/never.tif",
                            bigtiff=False)


def test_cog_parts_mosaic_equals_single_file(spark, tmp_path):
    """VERDICT r4 #4: the sharded parallel sink — part mosaic read equals
    the single-file read cell-for-cell (incl. the overview level), part
    files are standalone COGs."""
    g = Grid(x0=100.0, y0=964.0, cell=2.0, rows=27, cols=22, epsg=32618,
             nodata=-5.0)
    src = grid_df(spark, g, "CAST(row * 22 + col AS DOUBLE)", bands=2)
    ds = SparkDataset(src, g)
    single = str(tmp_path / "single.tif")
    ds.to_cog(single, levels=(4,), tile=(8, 8), compress=2)
    parts_dir = str(tmp_path / "parts")
    man = ds.to_cog_parts(parts_dir, shard=(16, 8), tile=(8, 8),
                          levels=(4,), compress=2)
    assert len(man) == 2 * 3  # ceil(27/16) x ceil(22/8)
    import os
    for f in man.file:
        assert os.path.exists(os.path.join(parts_dir, f))
    # one part opens as a normal standalone GeoTIFF
    part0 = SparkDataset.from_geotiff(
        spark, os.path.join(parts_dir, "part-r0-c0.tif")
    )
    assert part0.grid.rows == 16 and part0.grid.cols == 8
    a = {(r.band, r.row, r.col): r.value
         for r in SparkDataset.from_geotiff(spark, single).df.collect()}
    b = {(r.band, r.row, r.col): r.value
         for r in SparkDataset.from_geotiff_parts(spark, parts_dir).df.collect()}
    assert a == b and len(a) == 2 * 27 * 22
    # overview: shard dims divide the level → per-shard averaging equals
    # global averaging wherever the 4x4 window lies inside one shard;
    # check full equality cell-for-cell
    ov_a = {(r.band, r.row, r.col): r.value
            for r in SparkDataset.from_geotiff(spark, single, overview=1).df.collect()}
    ov_b = {(r.band, r.row, r.col): r.value
            for r in SparkDataset.from_geotiff_parts(spark, parts_dir, overview=1).df.collect()}
    assert ov_a == ov_b and len(ov_a) > 0


def test_cog_parts_level_must_divide_shard(spark, tmp_path):
    ds = SparkDataset(grid_df(spark, COELLO), COELLO)
    with pytest.raises(ValueError, match="divide shard"):
        ds.to_cog_parts(str(tmp_path / "p"), shard=(10, 10), levels=(4,))


def test_geotiff_lzw_roundtrip_and_predictor2(spark, tmp_path):
    """VERDICT r4 #5: LZW (Compression=5, MSB-first, early change) — write
    with compress="lzw", read back equal; plus a foreign LZW strip file
    with Predictor 2 (horizontal differencing) on int16 samples."""
    p = str(tmp_path / "lzw.tif")
    ds = SparkDataset(grid_df(spark, COELLO), COELLO)
    ds.to_cog(p, levels=(2,), tile=(8, 8), compress="lzw")
    raw = open(p, "rb").read()
    _, _, ifd0 = struct.unpack_from("<2sHI", raw, 0)
    (n_tags,) = struct.unpack_from("<H", raw, ifd0)
    tags = {
        struct.unpack_from("<HHII", raw, ifd0 + 2 + 12 * i)[0]:
        struct.unpack_from("<HHII", raw, ifd0 + 2 + 12 * i)[3]
        for i in range(n_tags)
    }
    assert tags[259] == 5  # Compression = LZW
    back = SparkDataset.from_geotiff(spark, p)
    a = {(r.band, r.row, r.col): r.value for r in ds.df.collect()}
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b and back.grid == COELLO

    # foreign strip file: int16, LZW, Predictor 2
    from pyramids_spark import lzw

    rows, cols, rps = 6, 5, 3
    vals = (np.arange(rows * cols, dtype="<i2") * 13 % 997 - 200).reshape(
        rows, cols
    )
    strips = []
    for s0 in range(0, rows, rps):
        seg = vals[s0: s0 + rps].astype("<i2")
        diff = seg.copy()
        diff[:, 1:] = (
            seg.view("<u2")[:, 1:] - seg.view("<u2")[:, :-1]
        ).astype("<u2").view("<i2")
        strips.append(lzw.encode(diff.astype("<i2").tobytes()))  # II = LE
    n_strips = len(strips)
    n_tags2 = 11
    ifd_at = 8
    p_off = ifd_at + 2 + n_tags2 * 12 + 4
    p_cnt = p_off + 4 * n_strips
    p_scale = p_cnt + 4 * n_strips
    data_at = p_scale + 24
    offs, cur = [], data_at
    for s in strips:
        offs.append(cur)
        cur += len(s)
    tag_list = sorted([
        (256, 4, 1, cols), (257, 4, 1, rows), (258, 3, 1, 16),
        (259, 3, 1, 5), (262, 3, 1, 1),
        (273, 4, n_strips, p_off), (278, 4, 1, rps),
        (279, 4, n_strips, p_cnt), (317, 3, 1, 2), (339, 3, 1, 2),
        (33550, 12, 3, p_scale),
    ])
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    buf += struct.pack("<H", n_tags2)
    for t in tag_list:
        buf += struct.pack("<HHII", *t)
    buf += struct.pack("<I", 0)
    buf += struct.pack(f"<{n_strips}I", *offs)
    buf += struct.pack(f"<{n_strips}I", *[len(s) for s in strips])
    buf += struct.pack("<3d", 1.0, 1.0, 0.0)
    for s in strips:
        buf += s
    fp = tmp_path / "lzw_pred2.tif"
    fp.write_bytes(bytes(buf))
    back2 = SparkDataset.from_geotiff(spark, str(fp))
    got = {(r.row, r.col): r.value for r in back2.df.collect()}
    exp = {(r, c): float(vals[r, c]) for r in range(rows) for c in range(cols)}
    assert got == exp

    # predictor 2 over float samples must reject loudly
    buf2 = bytearray(buf)
    # patch SampleFormat tag (339) value to 3 (IEEE float): find its entry
    for i in range(n_tags2):
        t = struct.unpack_from("<HHII", buf2, ifd_at + 2 + 12 * i)
        if t[0] == 339:
            struct.pack_into("<HHII", buf2, ifd_at + 2 + 12 * i, 339, 3, 1, 3)
        if t[0] == 258:
            struct.pack_into("<HHII", buf2, ifd_at + 2 + 12 * i, 258, 3, 1, 32)
    fp2 = tmp_path / "bad_pred.tif"
    fp2.write_bytes(bytes(buf2))
    with pytest.raises(NotImplementedError, match="integer-only"):
        SparkDataset.from_geotiff(spark, str(fp2))


def _packbits_encode(data: bytes) -> bytes:
    """Test-only PackBits encoder: identical runs >= 3 become RLE pairs,
    everything else literal runs (both capped at 128 per TIFF 6.0 S9)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i + 1
        while j < n and data[j] == data[i] and j - i < 128:
            j += 1
        if j - i >= 3:
            out.append((257 - (j - i)) & 0xFF)
            out.append(data[i])
            i = j
            continue
        k = i
        while k < n and k - i < 128:
            if k + 2 < n and data[k] == data[k + 1] == data[k + 2]:
                break
            k += 1
        out.append(k - i - 1)
        out += data[i:k]
        i = k
    return bytes(out)


def test_packbits_decode_inverts_encoder():
    from pyramids_spark.tiff import _packbits_decode

    rng = np.random.default_rng(7)
    for _ in range(20):
        raw = bytes(rng.integers(0, 4, size=rng.integers(1, 700)).astype("u1"))
        assert _packbits_decode(_packbits_encode(raw)) == raw
    # no-op control byte (-128) is skipped by itself (no operand)
    assert _packbits_decode(b"\x80\x02abc") == b"abc"


def test_geotiff_reads_foreign_packbits_strips(spark, tmp_path):
    """A wild uint8 strip TIFF with PackBits (Compression 32773) strips —
    the TIFF-6.0-mandated RLE every baseline reader must accept."""
    rows, cols, rps = 7, 4, 3
    vals = np.arange(rows * cols, dtype="u1").reshape(rows, cols)
    vals[2:5, :] = 9  # long identical run to exercise the RLE branch
    strips = [_packbits_encode(vals[s: s + rps].tobytes())
              for s in range(0, rows, rps)]
    n_strips = len(strips)

    n_tags = 9
    ifd_at = 8
    p_off = ifd_at + 2 + n_tags * 12 + 4
    p_cnt = p_off + 4 * n_strips
    p_scale = p_cnt + 4 * n_strips
    data_at = p_scale + 24
    offs, cur = [], data_at
    for s in strips:
        offs.append(cur)
        cur += len(s)
    tags = sorted([
        (256, 4, 1, cols), (257, 4, 1, rows), (258, 3, 1, 8),
        (259, 3, 1, 32773), (262, 3, 1, 1),
        (273, 4, n_strips, p_off), (278, 4, 1, rps),
        (279, 4, n_strips, p_cnt),
        (33550, 12, 3, p_scale),
    ])
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    buf += struct.pack("<H", n_tags)
    for t in tags:
        buf += struct.pack("<HHII", *t)
    buf += struct.pack("<I", 0)
    buf += struct.pack(f"<{n_strips}I", *offs)
    buf += struct.pack(f"<{n_strips}I", *[len(s) for s in strips])
    buf += struct.pack("<3d", 2.0, 2.0, 0.0)
    for s in strips:
        buf += s
    p = tmp_path / "packbits.tif"
    p.write_bytes(bytes(buf))

    back = SparkDataset.from_geotiff(spark, str(p))
    got = {(r.row, r.col): int(r.value) for r in back.df.collect()}
    exp = {(r, c): int(vals[r, c]) for r in range(rows) for c in range(cols)}
    assert got == exp


def test_int_overview_tie_rounding_matches_across_sinks(spark, tmp_path):
    """Integer overviews at .5-average ties must round identically in
    to_cog (Spark F.round, HALF_UP) and to_cog_parts (numpy kernel) —
    code-review r5 found the parts sink used banker's rounding."""
    g = Grid(x0=0.0, y0=8.0, cell=1.0, rows=8, cols=8, epsg=32618,
             nodata=-1.0)
    # every 2x2 window averages to k + 0.5: values alternate k, k+1
    src = grid_df(
        spark, g,
        "CAST(pmod(row + col, 2) + 2 * CAST(row / 4 AS INT) AS DOUBLE)",
    )
    ds = SparkDataset(src, g)
    single = str(tmp_path / "s.tif")
    parts = str(tmp_path / "p")
    ds.to_cog(single, levels=(2,), tile=(4, 4), dtype="int16")
    ds.to_cog_parts(parts, shard=(4, 4), tile=(4, 4), levels=(2,),
                    dtype="int16")
    a = {(r.row, r.col): r.value
         for r in SparkDataset.from_geotiff(spark, single,
                                            overview=1).df.collect()}
    b = {(r.row, r.col): r.value
         for r in SparkDataset.from_geotiff_parts(spark, parts,
                                                  overview=1).df.collect()}
    assert a == b and len(a) == 16
    # rows 0-3 average 0.5 → 1, rows 4-7 average 2.5 → 3 under HALF_UP
    # (banker's would yield {0, 2})
    assert {v for (r, c), v in a.items() if r < 2} == {1.0}
    assert {v for (r, c), v in a.items() if r >= 2} == {3.0}


def test_cog_parts_rejects_out_of_extent_band(spark, tmp_path):
    """code-review r5 pass 2: a negative band index must fail loudly in
    the sharded sink too (numpy fancy indexing would silently wrap it
    into the last band), matching the single-file writer's behavior."""
    g = Grid(x0=0.0, y0=8.0, cell=1.0, rows=8, cols=8, epsg=4326,
             nodata=-9.0)
    base = grid_df(spark, g, bands=2)
    extra = spark.createDataFrame(
        [(-1, 3, 3, 7777.0)],
        "band long, row long, col long, value double",
    )
    ds = SparkDataset(base.unionByName(extra), g)
    with pytest.raises(Exception, match="outside grid extent"):
        ds.to_cog_parts(str(tmp_path / "p"), shard=(8, 8), tile=(4, 4),
                        levels=())


def test_geotiff_write_predictor2(spark, tmp_path):
    """predictor=2 on WRITE: Predictor tag lands in every IFD, round trip
    is exact under both LZW and DEFLATE, a smooth gradient compresses
    smaller than without the predictor, floats reject, and the sharded
    COG-parts sink carries it too."""
    import os
    from dataclasses import replace

    import pytest as _pytest

    g = replace(Grid(x0=0.0, y0=64.0, cell=1.0, rows=64, cols=64,
                     epsg=32636), nodata=-9999.0)
    # smooth gradient: horizontal differencing turns rows into constants
    ds = SparkDataset.create(spark, g, "CAST(row + col * 3 AS DOUBLE)")
    sizes = {}
    for pred in (1, 2):
        p = str(tmp_path / f"p{pred}.tif")
        ds.to_cog(p, levels=(), tile=(16, 16), compress="lzw",
                  dtype="int16", predictor=pred)
        sizes[pred] = os.path.getsize(p)
        raw = open(p, "rb").read()
        _, _, ifd0 = struct.unpack_from("<2sHI", raw, 0)
        (n_tags,) = struct.unpack_from("<H", raw, ifd0)
        tags = {
            struct.unpack_from("<HHII", raw, ifd0 + 2 + 12 * i)[0]:
            struct.unpack_from("<HHII", raw, ifd0 + 2 + 12 * i)[3]
            for i in range(n_tags)
        }
        assert tags.get(317, 1) == pred or (pred == 1 and 317 not in tags)
        back = SparkDataset.from_geotiff(spark, p)
        a = {(r.band, r.row, r.col): r.value for r in ds.df.collect()}
        b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
        assert a == b
    assert sizes[2] < sizes[1]
    # DEFLATE + predictor round trip
    p = str(tmp_path / "pd.tif")
    ds.to_cog(p, levels=(2,), tile=(16, 16), compress=6, dtype="int32",
              predictor=2)
    back = SparkDataset.from_geotiff(spark, p)
    a = {(r.band, r.row, r.col): r.value for r in ds.df.collect()}
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b
    # floats reject (Predictor 3 is out of scope)
    with _pytest.raises(NotImplementedError, match="integer-only"):
        ds.to_cog(str(tmp_path / "bad.tif"), levels=(), predictor=2)
    # sharded parallel sink carries the predictor per part
    out = str(tmp_path / "parts")
    ds.to_cog_parts(out, shard=(32, 32), tile=(16, 16), compress="lzw",
                    dtype="int16", predictor=2)
    back = SparkDataset.from_geotiff_parts(spark, out)
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b


def _split_jfif(stream):
    """Split a JFIF stream into (tables_blob, abbreviated_stream): DQT and
    DHT segments move into a JPEGTables-style SOI..EOI blob."""
    segs, i = [], 2
    while i < len(stream):
        marker = stream[i + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack_from(">H", stream, i + 2)
        segs.append((marker, stream[i:i + 2 + ln]))
        i += 2 + ln
        if marker == 0xDA:  # entropy data runs to EOI
            segs.append((None, stream[i:-2]))
            break
    tables = b"\xff\xd8" + b"".join(
        s for m, s in segs if m in (0xDB, 0xC4)
    ) + b"\xff\xd9"
    abbrev = b"\xff\xd8" + b"".join(
        s for m, s in segs if m not in (0xDB, 0xC4)
    ) + b"\xff\xd9"
    return tables, abbrev


def test_geotiff_reads_jpeg_compressed(spark, tmp_path):
    """Compression=7 (new-style JPEG in TIFF — the aerial-imagery
    standard): gray strips with full JFIF streams, then RGB tiles as
    ABBREVIATED streams with the shared DQT/DHT in a JPEGTables tag.
    The reader must reproduce decode_jpeg's pixels exactly."""
    from pyramids_spark import jpeg as J

    rng = np.random.default_rng(41)
    # --- gray, strip-organized, full streams -----------------------------
    rows, cols, rps = 16, 24, 8
    img = rng.integers(0, 256, (rows, cols), dtype=np.uint8)
    strips = [J.encode_jpeg(img[s:s + rps], quality=95)
              for s in range(0, rows, rps)]
    exp = np.vstack([J.decode_jpeg(s) for s in strips])
    n_tags, ifd_at = 9, 8
    p_off = ifd_at + 2 + n_tags * 12 + 4
    p_cnt = p_off + 4 * len(strips)
    data_at = p_cnt + 4 * len(strips)
    offs, cur = [], data_at
    for s in strips:
        offs.append(cur)
        cur += len(s)
    tags = sorted([
        (256, 4, 1, cols), (257, 4, 1, rows), (258, 3, 1, 8),
        (259, 3, 1, 7), (262, 3, 1, 1),
        (273, 4, len(strips), p_off), (278, 4, 1, rps),
        (279, 4, len(strips), p_cnt), (339, 3, 1, 1),
    ])
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    buf += struct.pack("<H", n_tags)
    for t in tags:
        buf += struct.pack("<HHII", *t)
    buf += struct.pack("<I", 0)
    buf += struct.pack(f"<{len(strips)}I", *offs)
    buf += struct.pack(f"<{len(strips)}I", *[len(s) for s in strips])
    for s in strips:
        buf += s
    p = tmp_path / "jpg.tif"
    p.write_bytes(bytes(buf))
    back = SparkDataset.from_geotiff(spark, str(p))
    got = {(r.row, r.col): r.value for r in back.df.collect()}
    assert got == {(r, c): float(exp[r, c])
                   for r in range(rows) for c in range(cols)}
    # --- RGB, abbreviated streams + JPEGTables ----------------------------
    rgb = rng.integers(0, 256, (rps, cols, 3), dtype=np.uint8)
    full = J.encode_jpeg(rgb, quality=95, subsample=False)
    tables, abbrev = _split_jfif(full)
    expc = J.decode_jpeg(full)
    n_tags = 11
    p_tab = ifd_at + 2 + n_tags * 12 + 4
    p_bits = p_tab + len(tables) + (len(tables) & 1)
    data_at = p_bits + 6
    tags = sorted([
        (256, 4, 1, cols), (257, 4, 1, rps), (258, 3, 3, p_bits),
        (259, 3, 1, 7), (262, 3, 1, 6), (273, 4, 1, data_at),
        (277, 3, 1, 3), (278, 4, 1, rps), (279, 4, 1, len(abbrev)),
        (339, 3, 1, 1), (347, 7, len(tables), p_tab),
    ])
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    buf += struct.pack("<H", n_tags)
    for t in tags:
        buf += struct.pack("<HHII", *t)
    buf += struct.pack("<I", 0)
    buf += tables + (b"\x00" if len(tables) & 1 else b"")
    buf += struct.pack("<3H", 8, 8, 8)
    buf += abbrev
    p2 = tmp_path / "jpgt.tif"
    p2.write_bytes(bytes(buf))
    back = SparkDataset.from_geotiff(spark, str(p2))
    got = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert got == {(s, r, c): float(expc[r, c, s])
                   for s in range(3) for r in range(rps)
                   for c in range(cols)}


def test_predictor3_byte_layout_pinned():
    """The fp-predictor transform is pinned BY HAND to TechNote 3: bytes
    planarize MSB-first per row, then difference with the sample stride —
    not just encoder/decoder self-consistency."""
    from pyramids_spark.tiff import _predict3, _unpredict3

    row = np.array([[1.5, -2.0]], ">f4")  # 3FC00000 C0000000 big-endian
    out = _predict3(row.astype("<f4"))
    # planarized: 3F C0 | C0 00 | 00 00 | 00 00 → diff stride 1
    exp = bytes([0x3F, 0xC0 - 0x3F,
                 (0xC0 - 0xC0) & 0xFF, (0x00 - 0xC0) & 0xFF,
                 0, 0, 0, 0])
    assert out == exp
    back = _unpredict3(np.frombuffer(out, np.uint8).reshape(1, 8), 4)
    assert np.frombuffer(back.tobytes(), ">f4").tolist() == [1.5, -2.0]
    # spp=2: differencing strides PER SAMPLE LANE
    row2 = np.array([[1.0, 2.0, 3.0, 4.0]], "<f4")  # 2 pixels × 2 samples
    out2 = _predict3(row2, spp=2)
    back2 = _unpredict3(np.frombuffer(out2, np.uint8).reshape(1, 16),
                        4, spp=2)
    assert np.frombuffer(back2.tobytes(), ">f4").tolist() == [1.0, 2.0,
                                                              3.0, 4.0]


def test_geotiff_write_predictor3_float(spark, tmp_path):
    """predictor=3 (floating-point differencing) round-trips float32/
    float64 under LZW and DEFLATE, compresses a smooth float gradient
    smaller than no predictor, tags Predictor=3, and rejects int dtypes;
    the sharded COG-parts sink carries it too."""
    import os
    from dataclasses import replace

    import pytest as _pytest

    g = replace(Grid(x0=0.0, y0=64.0, cell=1.0, rows=64, cols=64,
                     epsg=32636), nodata=-9999.0)
    ds = SparkDataset.create(
        spark, g, "CAST(row * 0.25 + col * 0.5 AS DOUBLE)")
    a = {(r.band, r.row, r.col): r.value for r in ds.df.collect()}
    sizes = {}
    for pred in (1, 3):
        p = str(tmp_path / f"f{pred}.tif")
        ds.to_cog(p, levels=(), tile=(16, 16), compress="lzw",
                  dtype="float32", predictor=pred)
        sizes[pred] = os.path.getsize(p)
        raw = open(p, "rb").read()
        _, _, ifd0 = struct.unpack_from("<2sHI", raw, 0)
        (n_tags,) = struct.unpack_from("<H", raw, ifd0)
        tags = {
            struct.unpack_from("<HHII", raw, ifd0 + 2 + 12 * i)[0]:
            struct.unpack_from("<HHII", raw, ifd0 + 2 + 12 * i)[3]
            for i in range(n_tags)
        }
        assert tags.get(317, 1) == pred
        back = SparkDataset.from_geotiff(spark, p)
        b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
        assert a == b
    assert sizes[3] < sizes[1]
    # float64 + DEFLATE, with an overview level
    p = str(tmp_path / "f64.tif")
    ds.to_cog(p, levels=(2,), tile=(16, 16), compress=6, dtype="float64",
              predictor=3)
    back = SparkDataset.from_geotiff(spark, p)
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b
    # integer samples reject predictor 3
    with _pytest.raises(NotImplementedError, match="float"):
        ds.to_cog(str(tmp_path / "bad.tif"), levels=(), dtype="int16",
                  predictor=3)
    # sharded parallel sink carries the fp predictor per part
    out = str(tmp_path / "parts3")
    ds.to_cog_parts(out, shard=(32, 32), tile=(16, 16), compress="lzw",
                    dtype="float32", predictor=3)
    back = SparkDataset.from_geotiff_parts(spark, out)
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b


def test_geotiff_reads_12bit_jpeg_compressed(spark, tmp_path):
    """Compression=7 with BitsPerSample=12 (the 12-bit aerial layout):
    strips are 12-bit JFIF streams, samples surface as uint16 words —
    the reader must reproduce decode_jpeg's pixels exactly."""
    from pyramids_spark import jpeg as J

    rows, cols, rps = 16, 24, 8
    img = ((np.add.outer(np.arange(rows) * 160, np.arange(cols) * 96))
           % 4096).astype(np.uint16)
    strips = [J.encode_jpeg(img[s:s + rps], quality=95, bits=12)
              for s in range(0, rows, rps)]
    exp = np.vstack([J.decode_jpeg(s) for s in strips])
    assert exp.dtype == np.uint16 and exp.max() > 255
    n_tags, ifd_at = 9, 8
    p_off = ifd_at + 2 + n_tags * 12 + 4
    p_cnt = p_off + 4 * len(strips)
    data_at = p_cnt + 4 * len(strips)
    offs, cur = [], data_at
    for s in strips:
        offs.append(cur)
        cur += len(s)
    tags = sorted([
        (256, 4, 1, cols), (257, 4, 1, rows), (258, 3, 1, 12),
        (259, 3, 1, 7), (262, 3, 1, 1),
        (273, 4, len(strips), p_off), (278, 4, 1, rps),
        (279, 4, len(strips), p_cnt), (339, 3, 1, 1),
    ])
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    buf += struct.pack("<H", n_tags)
    for t in tags:
        buf += struct.pack("<HHII", *t)
    buf += struct.pack("<I", 0)
    buf += struct.pack(f"<{len(strips)}I", *offs)
    buf += struct.pack(f"<{len(strips)}I", *[len(s) for s in strips])
    for s in strips:
        buf += s
    p = tmp_path / "j12.tif"
    p.write_bytes(bytes(buf))
    back = SparkDataset.from_geotiff(spark, str(p))
    got = {(r.row, r.col): r.value for r in back.df.collect()}
    assert got == {(r, c): float(exp[r, c])
                   for r in range(rows) for c in range(cols)}
    assert max(got.values()) > 255.0  # genuinely 12-bit range


def _jfif_pieces(stream):
    """Parse a baseline JFIF stream into (q tables, dc tables, ac tables,
    (h, w, ncomp), entropy bytes) — the raw pieces the OLD-STYLE JPEG
    TIFF tags (519-521) store without any markers."""
    qs, dcs, acs, dims = {}, {}, {}, None
    i = 2
    while i < len(stream):
        assert stream[i] == 0xFF
        marker = stream[i + 1]
        (ln,) = struct.unpack_from(">H", stream, i + 2)
        seg = stream[i + 4:i + 2 + ln]
        if marker == 0xDB:
            j = 0
            while j < len(seg):
                assert seg[j] >> 4 == 0  # 8-bit tables
                qs[seg[j] & 15] = seg[j + 1:j + 65]
                j += 65
        elif marker == 0xC4:
            j = 0
            while j < len(seg):
                cls, th = seg[j] >> 4, seg[j] & 15
                n = sum(seg[j + 1:j + 17])
                (dcs if cls == 0 else acs)[th] = seg[j + 1:j + 17 + n]
                j += 17 + n
        elif marker == 0xC0:
            dims = (struct.unpack_from(">H", seg, 1)[0],
                    struct.unpack_from(">H", seg, 3)[0], seg[5])
        elif marker == 0xDA:
            return qs, dcs, acs, dims, stream[i + 2 + ln:-2]
        i += 2 + ln
    raise AssertionError("no SOS")


def test_geotiff_reads_oldstyle_jpeg_interchange(spark, tmp_path):
    """Compression=6 shape A: JPEGInterchangeFormat/Length (513/514)
    point at ONE full JFIF stream for the whole image — the common wild
    old-scanner layout. Strip tags may be absent entirely."""
    from pyramids_spark import jpeg as J

    rng = np.random.default_rng(17)
    rows, cols = 16, 24
    img = rng.integers(0, 256, (rows, cols), dtype=np.uint8)
    stream = J.encode_jpeg(img, quality=95)
    exp = J.decode_jpeg(stream)

    n_tags, ifd_at = 8, 8
    data_at = ifd_at + 2 + n_tags * 12 + 4
    tags = sorted([
        (256, 4, 1, cols), (257, 4, 1, rows), (258, 3, 1, 8),
        (259, 3, 1, 6), (262, 3, 1, 1), (339, 3, 1, 1),
        (513, 4, 1, data_at), (514, 4, 1, len(stream)),
    ])
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    buf += struct.pack("<H", n_tags)
    for t in tags:
        buf += struct.pack("<HHII", *t)
    buf += struct.pack("<I", 0)
    buf += stream
    p = tmp_path / "oj.tif"
    p.write_bytes(bytes(buf))
    back = SparkDataset.from_geotiff(spark, str(p))
    got = {(r.row, r.col): r.value for r in back.df.collect()}
    assert got == {(r, c): float(exp[r, c])
                   for r in range(rows) for c in range(cols)}


def test_geotiff_reads_oldstyle_jpeg_per_strip_tables(spark, tmp_path):
    """Compression=6 shape B: strips hold BARE entropy data; the quant
    and huffman tables live behind JPEGQTables/DCTables/ACTables
    offsets. The reader synthesizes the marker prelude per strip (with
    the SHORT last strip's exact height)."""
    from pyramids_spark import jpeg as J

    rng = np.random.default_rng(23)
    rows, cols, rps = 14, 16, 8  # short last strip: 6 rows
    img = rng.integers(0, 256, (rows, cols), dtype=np.uint8)
    strips, exp_parts, tables = [], [], None
    for s in range(0, rows, rps):
        stream = J.encode_jpeg(img[s:s + rps], quality=90)
        qs, dcs, acs, dims, entropy = _jfif_pieces(stream)
        assert dims[2] == 1
        tables = (qs[0], dcs[0], acs[0])  # identical across strips
        strips.append(entropy)
        exp_parts.append(J.decode_jpeg(stream))
    exp = np.vstack(exp_parts)

    n_tags, ifd_at = 13, 8
    p_off = ifd_at + 2 + n_tags * 12 + 4
    p_cnt = p_off + 4 * len(strips)
    p_q = p_cnt + 4 * len(strips)
    p_dc = p_q + 64
    p_ac = p_dc + len(tables[1])
    data_at = p_ac + len(tables[2])
    offs, cur = [], data_at
    for s in strips:
        offs.append(cur)
        cur += len(s)
    tags = sorted([
        (256, 4, 1, cols), (257, 4, 1, rows), (258, 3, 1, 8),
        (259, 3, 1, 6), (262, 3, 1, 1),
        (273, 4, len(strips), p_off), (278, 4, 1, rps),
        (279, 4, len(strips), p_cnt), (339, 3, 1, 1),
        (512, 3, 1, 1), (519, 4, 1, p_q), (520, 4, 1, p_dc),
        (521, 4, 1, p_ac),
    ])
    buf = bytearray(struct.pack("<2sHI", b"II", 42, ifd_at))
    buf += struct.pack("<H", n_tags)
    for t in tags:
        buf += struct.pack("<HHII", *t)
    buf += struct.pack("<I", 0)
    buf += struct.pack(f"<{len(strips)}I", *offs)
    buf += struct.pack(f"<{len(strips)}I", *[len(s) for s in strips])
    buf += tables[0] + tables[1] + tables[2]
    for s in strips:
        buf += s
    p = tmp_path / "ojs.tif"
    p.write_bytes(bytes(buf))
    back = SparkDataset.from_geotiff(spark, str(p))
    got = {(r.row, r.col): r.value for r in back.df.collect()}
    assert got == {(r, c): float(exp[r, c])
                   for r in range(rows) for c in range(cols)}


def test_geotiff_oldstyle_jpeg_rejects(spark, tmp_path):
    """Shape-B guards: missing table tags, non-baseline JPEGProc and
    YCbCr photometric reject loudly at IFD-parse time."""
    from pyramids_spark import tiff as T

    def build(extra_tags):
        base = [(256, 4, 1, 8), (257, 4, 1, 8), (258, 3, 1, 8),
                (259, 3, 1, 6), (273, 4, 1, 300), (278, 4, 1, 8),
                (279, 4, 1, 10), (339, 3, 1, 1)]
        tags = sorted(base + extra_tags)
        buf = bytearray(struct.pack("<2sHI", b"II", 42, 8))
        buf += struct.pack("<H", len(tags))
        for t in tags:
            buf += struct.pack("<HHII", *t)
        buf += struct.pack("<I", 0)
        buf += b"\x00" * 400
        p = tmp_path / "g.tif"
        p.write_bytes(bytes(buf))
        return str(p)

    with pytest.raises(NotImplementedError, match="JPEGQTables"):
        T._read_ifds(build([(262, 3, 1, 1)]))
    with pytest.raises(NotImplementedError, match="JPEGProc"):
        T._read_ifds(build([(262, 3, 1, 1), (512, 3, 1, 14)]))
    with pytest.raises(NotImplementedError, match="YCbCr"):
        T._read_ifds(build([(262, 3, 1, 6)]))

    # a 513-only IFD (no strip/tile tags) under Compression != 6 must
    # reject at parse time, not decode as an empty raster
    def build_513only(comp):
        tags = sorted([(256, 4, 1, 8), (257, 4, 1, 8), (258, 3, 1, 8),
                       (259, 3, 1, comp), (262, 3, 1, 1), (339, 3, 1, 1),
                       (513, 4, 1, 300), (514, 4, 1, 10)])
        buf = bytearray(struct.pack("<2sHI", b"II", 42, 8))
        buf += struct.pack("<H", len(tags))
        for t in tags:
            buf += struct.pack("<HHII", *t)
        buf += struct.pack("<I", 0)
        buf += b"\x00" * 400
        p = tmp_path / "g513.tif"
        p.write_bytes(bytes(buf))
        return str(p)

    with pytest.raises(NotImplementedError, match="Compression != 6"):
        T._read_ifds(build_513only(1))


def test_geotiff_parallel_staged_roundtrip(spark, tmp_path):
    """write_geotiff's one tail (encode+stage distributed -> driver
    metadata layout -> distributed pwrite) is byte-identical to
    ``serialize_geotiff`` on a fully populated multi-tile raster, with one
    level and with an overview, across raw, deflate + predictor 3 float32
    and int16 deflate + predictor 2. On a sparse raster every absent
    tile's offset is ONE shared fill tile and the values equal the grid."""
    import os

    from pyramids_spark import tiff as T

    g2 = Grid(x0=COELLO.x0, y0=COELLO.y0, cell=COELLO.cell * 2, rows=7,
              cols=7, epsg=COELLO.epsg, nodata=COELLO.nodata)
    levels = [(grid_df(spark, COELLO), COELLO), (grid_df(spark, g2), g2)]
    arrs = [(np.arange(g.rows * g.cols, dtype="<f8") + 1).reshape(
        1, g.rows, g.cols) for _, g in levels]
    for i, kw in enumerate([
        dict(compress=None),
        dict(compress=6, predictor=3, dtype="float32"),
        dict(compress=6, predictor=2, dtype="int16"),
    ]):
        for n in (1, 2):
            p = str(tmp_path / f"f{i}_{n}.tif")
            size = T.write_geotiff(levels[:n], p, tile=(4, 4), **kw)
            want = T.serialize_geotiff(arrs[:n], [g for _, g in levels[:n]],
                                       tile=(4, 4), **kw)
            got = open(p, "rb").read()
            assert got == want and size == len(want), f"config {i}/{n}"
            assert not os.path.exists(p + "._tiles")  # scratch cleaned

    src = grid_df(spark, COELLO).where((F.col("row") < 5) | (F.col("col") > 10))
    a = {(r.band, r.row, r.col): r.value for r in src.collect()}
    for i, kw in enumerate([dict(compress=6, predictor=2, dtype="int16"),
                            dict(compress=None)]):
        p = str(tmp_path / f"sparse{i}.tif")
        SparkDataset(src, COELLO).to_cog(p, levels=(2,), tile=(4, 4), **kw)
        b = {(r.band, r.row, r.col): r.value
             for r in SparkDataset.from_geotiff(spark, p).df.collect()}
        assert a == b and len(b) > 0
        # every empty slot's offset is the SAME shared fill tile
        offs = T._read_ifds(p)[0]["offsets"]
        counts: dict = {}
        for o in offs:
            counts[o] = counts.get(o, 0) + 1
        shared = [o for o, n in counts.items() if n > 1]
        assert len(shared) == 1  # one fill tile, many pointers


def test_geotiff_write_job_audit(spark, tmp_path, build_jobs):
    """``write_geotiff`` runs the encode job (every level in one job) and
    the placement job — the same count for one level and two; a range sort
    after the encode UDF would add a sampler job that encodes every tile
    again."""
    from pyramids_spark import tiff as T

    g2 = Grid(x0=COELLO.x0, y0=COELLO.y0, cell=COELLO.cell * 2, rows=7,
              cols=7, epsg=COELLO.epsg, nodata=COELLO.nodata)
    levels = [(grid_df(spark, COELLO), COELLO), (grid_df(spark, g2), g2)]
    p = str(tmp_path / "j.tif")
    for n in (1, 2):
        assert build_jobs(lambda: T.write_geotiff(
            levels[:n], p, tile=(4, 4), compress=6), f"tif-{n}") == 3


def test_geotiff_parallel_staged_guards(spark, tmp_path):
    """Out-of-extent cells and negative bands fail loudly inside the
    encode job and leave no scratch directory behind."""
    import os

    g = Grid(x0=0.0, y0=8.0, cell=1.0, rows=8, cols=8, epsg=3857,
             nodata=-1.0)
    bad = spark.createDataFrame(
        [(0, 0, 99, 1.0)], "band long, row long, col long, value double")
    p = str(tmp_path / "bad.tif")
    with pytest.raises(Exception, match="outside grid extent"):
        SparkDataset(bad, g).to_cog(p, levels=(), tile=(4, 4))
    assert not os.path.exists(p + "._tiles")
    # the band count is observed, so a negative band is the one band the
    # layout cannot hold
    neg = spark.createDataFrame(
        [(-1, 0, 0, 1.0)], "band long, row long, col long, value double")
    with pytest.raises(Exception, match="outside the declared layout"):
        SparkDataset(neg, g).to_cog(p, levels=(), tile=(4, 4))
    assert not os.path.exists(p + "._tiles")


def test_cog_declares_all_null_bands_and_one_band_when_empty(spark, tmp_path):
    """to_cog declares a band whose every cell is null (two bands of
    IFDs, two levels each) and one band for an empty input."""
    from pyramids_spark import tiff as T

    g = Grid(x0=0.0, y0=8.0, cell=1.0, rows=8, cols=8, epsg=4326,
             nodata=-9999.0)
    nullband = grid_df(spark, g, bands=2).select(
        "band", "row", "col",
        F.when(F.col("band") == 0, F.col("value")).alias("value"))
    empty = spark.createDataFrame(
        [], "band long, row long, col long, value double")
    for name, df, bands in (("nullband", nullband, 2), ("empty", empty, 1)):
        p = str(tmp_path / f"{name}.tif")
        SparkDataset(df, g).to_cog(p, levels=(2,), tile=(4, 4))
        assert len(T._read_ifds(p)) == 2 * bands, name


def test_to_cog_job_audit(spark, tmp_path, build_jobs):
    """to_cog runs the encode of every level, which also observes the
    band count (no probe scan), and the placement job."""
    src = grid_df(spark, COELLO, bands=2)
    p = str(tmp_path / "c.tif")
    assert build_jobs(lambda: SparkDataset(src, COELLO).to_cog(
        p, levels=(2,), tile=(4, 4)), "to-cog") == 4
