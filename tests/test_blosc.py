"""Blosc-1 chunk container + the widened zarr codec matrix.

Layer 1: pure-numpy blosc chunk codec (header fields per c-blosc's
README_CHUNK_FORMAT.rst, shuffle transpose, split-stream blocks, raw
memcpy fallback, loud rejects). Layer 2: the zarr v2/v3 read/write
paths with zstd / lz4 / blosc:<cname> chunk compressors — the formats
numcodecs and zarr-python 3 write by default in the wild."""

import json
import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyramids_spark import blosc as B
from pyramids_spark.api import SparkDataset
from pyramids_spark.grid import COELLO, Grid, grid_df


# ---------------------------------------------------------------- layer 1


def _payload(n=4096, dtype="<f8"):
    # compressible but non-trivial: ramp + step, exact float64 values
    v = (np.arange(n, dtype="<i8") % 97).astype(dtype)
    return v.tobytes(), np.dtype(dtype).itemsize


@pytest.mark.parametrize("cname", ["lz4", "zlib", "zstd", "snappy"])
@pytest.mark.parametrize("shuffle", [0, 1])
def test_blosc_roundtrip_codecs_and_shuffle(cname, shuffle):
    data, ts = _payload()
    chunk = B.encode_blosc(data, ts, cname, 5, shuffle=shuffle)
    # header fields per README_CHUNK_FORMAT.rst
    version, _, flags, typesize = struct.unpack_from("<4B", chunk, 0)
    nbytes, blocksize, cbytes = struct.unpack_from("<3I", chunk, 4)
    assert version == 2 and typesize == ts
    assert nbytes == len(data) and cbytes == len(chunk)
    assert bool(flags & 0x1) == (shuffle == 1)
    assert cbytes < nbytes  # genuinely compressed
    assert B.decode_blosc(chunk) == data


def test_blosc_split_stream_blocks_roundtrip():
    # the FORWARD_COMPAT layout: typesize streams per full block, the
    # dont-split flag CLEAR — what wild lz4 chunks from c-blosc look like
    data, ts = _payload(6000)  # 6000*8 = 48000 bytes, 3 blocks of 16384 + tail
    chunk = B.encode_blosc(data, ts, "lz4", 5, shuffle=1,
                           blocksize=16384, split=True)
    flags = chunk[2]
    assert not (flags & 0x10)  # dont-split bit clear
    assert B.decode_blosc(chunk) == data
    # multi-block dont-split variant decodes identically
    chunk2 = B.encode_blosc(data, ts, "lz4", 5, shuffle=1, blocksize=16384)
    assert chunk2[2] & 0x10
    assert B.decode_blosc(chunk2) == data


def test_blosc_memcpy_fallback_and_empty():
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, 2048, dtype=np.uint8).tobytes()
    chunk = B.encode_blosc(noise, 8, "zstd", 1, shuffle=1)
    assert chunk[2] & 0x2  # memcpy flag: stored raw, smaller than deflated
    assert len(chunk) == 16 + len(noise)
    assert B.decode_blosc(chunk) == noise
    empty = B.encode_blosc(b"", 8, "lz4")
    assert B.decode_blosc(empty) == b""
    assert struct.unpack_from("<3I", empty, 4)[0] == 0


def test_blosc_handcrafted_chunk_decodes():
    # one block, no shuffle, dont-split, zlib stream — built by hand so
    # the DECODER is pinned to the documented layout, not the encoder
    import zlib

    data = bytes(range(256)) * 4
    comp = zlib.compress(data, 6)
    body = struct.pack("<I", 20) + struct.pack("<i", len(comp)) + comp
    hdr = struct.pack("<4B3I", 2, 1, (3 << 5) | 0x10, 1,
                      len(data), len(data), 16 + len(body))
    assert B.decode_blosc(hdr + body) == data


def test_blosc_rejects_are_loud():
    data, ts = _payload(64)
    with pytest.raises(ValueError, match="both shuffle bits"):
        chunk = bytearray(B.encode_blosc(data, ts, "lz4"))
        chunk[2] = (chunk[2] & ~0x2) | 0x4 | 0x1  # byte+bit shuffle
        B.decode_blosc(bytes(chunk))
    with pytest.raises(NotImplementedError, match="codec format"):
        chunk = bytearray(B.encode_blosc(data, ts, "zstd"))
        chunk[2] = (chunk[2] & 0x1F) | (6 << 5)  # fmt 6: unassigned
        B.decode_blosc(bytes(chunk))
    with pytest.raises(ValueError, match="too short"):
        B.decode_blosc(b"\x02\x01")
    # truncated stream overruns loudly
    good = B.encode_blosc(data, ts, "zlib", 9)
    with pytest.raises(ValueError):
        B.decode_blosc(good[:-3])


def test_blosc_typesize_oversize_and_leftover_tail():
    # typesize > 255 is stored untyped (c-blosc behavior); odd tail bytes
    # ride unshuffled behind the transposed body
    data = (b"\x01\x02\x03\x04" * 300)[:1001]
    chunk = B.encode_blosc(data, 300, "zstd", 3, shuffle=1)
    assert chunk[3] == 1  # typesize byte
    assert B.decode_blosc(chunk) == data
    chunk = B.encode_blosc(data, 4, "zstd", 3, shuffle=1, blocksize=256)
    assert B.decode_blosc(chunk) == data


# ---------------------------------------------------------------- layer 2


def _cellmap(df):
    return {(r.band, r.row, r.col): r.value for r in df.collect()}


@pytest.mark.parametrize("codec,comp_id", [
    ("zstd", "zstd"), ("lz4", "lz4"),
    ("blosc:lz4", "blosc"), ("blosc:zstd", "blosc"),
])
def test_zarr_v2_codec_matrix_roundtrip(spark, tmp_path, codec, comp_id):
    store = str(tmp_path / codec.replace(":", "_"))
    g = COELLO
    ds = SparkDataset(grid_df(spark, g), g)
    manifest = ds.to_zarr(store, chunks=(5, 4), codec=codec, compress=5)
    meta = json.load(open(os.path.join(store, ".zarray")))
    assert meta["compressor"]["id"] == comp_id
    if comp_id == "blosc":  # numcodecs-shaped object
        assert meta["compressor"]["cname"] == codec.split(":")[1]
        assert meta["compressor"]["shuffle"] == 1
    assert (manifest["n_bytes"] < 5 * 4 * 8).any()  # genuinely compressed
    back = SparkDataset.from_zarr(spark, store)
    a = _cellmap(ds.df.where(F.col("value").isNotNull()))
    assert _cellmap(back.df) == a and back.grid == g and len(a) > 0


def test_zarr_v2_numcodecs_lz4_frame_shape(tmp_path, spark):
    # numcodecs LZ4 = u32le uncompressed size + lz4 block: check the
    # on-disk bytes directly so wild stores decode, not just our own
    import pyarrow as pa

    store = str(tmp_path / "l4")
    g = Grid(x0=0.0, y0=4.0, cell=1.0, rows=4, cols=4, epsg=4326, nodata=-1.0)
    ds = SparkDataset.create(spark, g, "CAST(row * 4 + col AS DOUBLE)")
    ds.to_zarr(store, chunks=(4, 4), codec="lz4")
    raw = open(os.path.join(store, "0.0.0"), "rb").read()
    (sz,) = struct.unpack_from("<I", raw, 0)
    assert sz == 4 * 4 * 8
    plain = pa.Codec("lz4_raw").decompress(raw[4:], decompressed_size=sz,
                                           asbytes=True)
    np.testing.assert_array_equal(
        np.frombuffer(plain, "<f8").reshape(4, 4),
        np.arange(16, dtype="<f8").reshape(4, 4))


@pytest.mark.parametrize("codec", ["zstd", "blosc:lz4"])
def test_zarr_v3_codec_matrix_roundtrip(spark, tmp_path, codec):
    store = str(tmp_path / ("v3_" + codec.replace(":", "_")))
    g = Grid(x0=0.0, y0=8.0, cell=1.0, rows=8, cols=8, epsg=32636,
             nodata=9999.0)
    ds = SparkDataset.create(spark, g, "CAST(row * 8 + col AS DOUBLE)")
    ds.to_zarr(store, chunks=(4, 4), dtype="int32", zarr_format=3,
               codec=codec)
    meta = json.load(open(os.path.join(store, "zarr.json")))
    names = [c["name"] for c in meta["codecs"]]
    assert names == ["bytes", codec.split(":")[0]]
    back = SparkDataset.from_zarr(spark, store)
    a = _cellmap(ds.df.where(F.col("value").isNotNull()))
    assert _cellmap(back.df) == a and back.grid == g and len(a) == 64


def test_zarr_v3_sharded_zstd_roundtrip(spark, tmp_path):
    store = str(tmp_path / "shz")
    g = Grid(x0=0.0, y0=16.0, cell=1.0, rows=16, cols=16, epsg=4326,
             nodata=None)
    ds = SparkDataset.create(spark, g, "CAST(row * 16 + col AS DOUBLE)")
    d = ds.df.where((F.col("row") + F.col("col")) % 5 != 0)
    SparkDataset(d, g).to_zarr(store, chunks=(4, 4), shards=(8, 8),
                               zarr_format=3, codec="zstd", compress=3)
    meta = json.load(open(os.path.join(store, "zarr.json")))
    inner = meta["codecs"][0]["configuration"]["codecs"]
    assert [c["name"] for c in inner] == ["bytes", "zstd"]
    back = SparkDataset.from_zarr(spark, store)
    assert _cellmap(back.df) == _cellmap(d)


def test_zarr_dataset_blosc_codec_and_compressed_coord(spark, tmp_path):
    # dataset store with blosc data chunks; plus a coordinate array
    # rewritten zstd-compressed so the driver-side coord read exercises
    # the same decoder table
    from pyramids_spark import blosc as _bl
    from pyramids_spark.api import SparkNetCDF

    store = str(tmp_path / "dsb")
    g = Grid(x0=0.0, y0=6.0, cell=1.0, rows=6, cols=5, epsg=4326,
             nodata=-9.0)
    base = SparkDataset.create(spark, g, "CAST(row * 5 + col AS DOUBLE)")
    long = base.df.select(
        F.lit("tmin").alias("variable"), F.lit(0).cast("long").alias("t"),
        "row", "col", "value")
    nc = SparkNetCDF(long.withColumn("band", F.lit(0).cast("long")))
    nc.to_zarr_dataset(g, store, times=[0.0], codec="blosc:zstd",
                       zarr_format=2)
    meta = json.load(open(os.path.join(store, "tmin", ".zarray")))
    assert meta["compressor"]["id"] == "blosc"
    # recompress the x coordinate with zstd, patch its metadata
    xdir = os.path.join(store, "x")
    vals = open(os.path.join(xdir, "0"), "rb").read()
    with open(os.path.join(xdir, "0"), "wb") as f:
        f.write(_bl.raw_compress("zstd", vals, 3))
    zm = json.load(open(os.path.join(xdir, ".zarray")))
    zm["compressor"] = {"id": "zstd", "level": 3}
    json.dump(zm, open(os.path.join(xdir, ".zarray"), "w"))
    back, grid2, meta2 = SparkNetCDF.from_zarr(spark, store)
    assert (grid2.rows, grid2.cols, grid2.cell, grid2.x0, grid2.y0) == (
        g.rows, g.cols, g.cell, g.x0, g.y0)
    assert meta2["variables"] == ["tmin"]
    a = {(r.variable, r.t, r.row, r.col): r.value for r in long.collect()}
    b = {(r.variable, r.t, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b and len(a) == 30


def test_blosc_legacy_split_policy_flag_clear():
    """Flag-clear chunks follow c-blosc's split_block(): only blosclz/lz4
    split, and only for typesize <= 16 with >= 128 elements per stream —
    a flag-clear zstd or small-block chunk decodes as ONE stream."""
    data, ts = _payload(64)  # 512 bytes: 512/8 = 64 < 128 → never split
    chunk = bytearray(B.encode_blosc(data, ts, "zstd", 3, shuffle=0))
    chunk[2] &= ~0x10  # clear dont-split: a pre-1.14 writer's layout
    assert B.decode_blosc(bytes(chunk)) == data
    # lz4 under the size threshold: also unsplit when the flag is clear
    chunk = bytearray(B.encode_blosc(data, ts, "lz4", 3, shuffle=0))
    chunk[2] &= ~0x10
    assert B.decode_blosc(bytes(chunk)) == data
    # the encoder refuses split layouts a symmetric reader would misparse
    with pytest.raises(ValueError, match="split_block"):
        B.encode_blosc(data, ts, "zstd", 3, split=True)
    with pytest.raises(ValueError, match="split_block"):
        B.encode_blosc(data[:256], ts, "lz4", 3, split=True)


def test_zarr_v2_numcodecs_filters_decode(spark, tmp_path):
    """Wild v2 stores carry numcodecs FILTER chains (delta for int
    coordinates, fixedscaleoffset quantization, astype) under the
    compressor: the reader inverts them in reverse order; unknown ids
    still reject loudly."""
    import zlib as _zl
    from pyramids_spark import zarr as Z

    # delta<i8 under zlib over a 4x4 int64 ramp, one 4x4 chunk
    store = tmp_path / "zfil"
    store.mkdir()
    arr = np.arange(16, dtype="<i8").reshape(4, 4)
    enc = np.empty_like(arr.ravel())
    enc[0] = arr.ravel()[0]
    np.subtract(arr.ravel()[1:], arr.ravel()[:-1], out=enc[1:])
    (store / "0.0.0").write_bytes(_zl.compress(enc.tobytes(), 6))
    (store / ".zarray").write_text(json.dumps({
        "zarr_format": 2, "shape": [4, 4], "chunks": [4, 4], "dtype": "<i8",
        "compressor": {"id": "zlib", "level": 6}, "fill_value": 0,
        "order": "C", "filters": [{"id": "delta", "dtype": "<i8"}],
    }))
    back = SparkDataset.from_zarr(spark, str(store))
    got = {(r.row, r.col): r.value for r in back.df.collect()
           if r.value is not None}
    exp = {(r, c): float(arr[r, c]) for r in range(4) for c in range(4)
           if arr[r, c] != 0}  # fill_value 0 drops the (0,0) zero cell
    assert got == exp

    # unit-level: fixedscaleoffset + astype + shuffle inverses, and the
    # stored-itemsize tracker astype filters change
    f = [{"id": "fixedscaleoffset", "offset": 100.0, "scale": 10,
          "dtype": "<f8", "astype": "|u1"}]
    raw = np.array([0, 5, 25], dtype="|u1").tobytes()
    dec = np.frombuffer(Z._undo_v2_filters(raw, f, "<f8"), "<f8")
    assert dec.tolist() == [100.0, 100.5, 102.5]
    assert Z._v2_stored_itemsize(f, 8) == 1
    f = [{"id": "astype", "encode_dtype": "<i2", "decode_dtype": "<i8"}]
    raw = np.array([7, -9], dtype="<i2").tobytes()
    assert np.frombuffer(Z._undo_v2_filters(raw, f, "<i8"),
                         "<i8").tolist() == [7, -9]
    assert Z._v2_stored_itemsize(f, 8) == 2
    f = [{"id": "shuffle", "elementsize": 4}]
    orig = np.arange(8, dtype="<i4").tobytes()
    shuf = np.frombuffer(orig, "u1").reshape(-1, 4).T.tobytes()
    assert Z._undo_v2_filters(shuf, f, "<i4") == orig
    assert Z._undo_v2_filters(b"abc", [{"id": "quantize", "digits": 2,
                                        "dtype": "<f8"}], "<f8") == b"abc"
    # quantize with astype != dtype stores astype: decode must cast back
    f = [{"id": "quantize", "digits": 2, "dtype": "<f8", "astype": "<f4"}]
    enc = np.array([1.25, -3.5], dtype="<f4").tobytes()
    assert np.frombuffer(Z._undo_v2_filters(enc, f, "<f8"),
                         "<f8").tolist() == [1.25, -3.5]
    assert Z._v2_stored_itemsize(f, 8) == 4
    with pytest.raises(NotImplementedError, match="numcodecs filter"):
        Z._undo_v2_filters(b"", [{"id": "bz2thing"}], "<f8")


def test_zarr_dataset_coord_with_delta_filter(spark, tmp_path):
    """A CF dataset whose 1-D coordinate array is delta-filtered (the
    common numcodecs shape for monotone coordinates) reads driver-side
    through the same inverse chain."""
    from pyramids_spark import zarr as Z

    store = tmp_path / "zds"
    (store / "v").mkdir(parents=True)
    (store / "y").mkdir()
    (store / "x").mkdir()
    vals = np.arange(6, dtype="<f8").reshape(2, 3) + 1.0
    (store / "v" / ".zarray").write_text(json.dumps({
        "zarr_format": 2, "shape": [2, 3], "chunks": [2, 3],
        "dtype": "<f8", "compressor": None, "fill_value": "NaN",
        "order": "C", "filters": None}))
    (store / "v" / ".zattrs").write_text(json.dumps(
        {"_ARRAY_DIMENSIONS": ["y", "x"]}))
    (store / "v" / "0.0").write_bytes(vals.tobytes())
    ys = np.array([9.0, 7.0])          # descending y, cell 2
    xs = np.array([1.0, 3.0, 5.0])     # ascending x
    for nm, coord in (("y", ys), ("x", xs)):
        d = np.empty_like(coord)
        d[0] = coord[0]
        d[1:] = coord[1:] - coord[:-1]
        (store / nm / ".zarray").write_text(json.dumps({
            "zarr_format": 2, "shape": [len(coord)],
            "chunks": [len(coord)], "dtype": "<f8", "compressor": None,
            "fill_value": 0, "order": "C",
            "filters": [{"id": "delta", "dtype": "<f8"}]}))
        (store / nm / ".zattrs").write_text(json.dumps(
            {"_ARRAY_DIMENSIONS": [nm]}))
        (store / nm / "0").write_bytes(d.tobytes())
    cells, grid, meta = Z.read_zarr_dataset(spark, str(store))
    assert (grid.rows, grid.cols, grid.cell) == (2, 3, 2.0)
    assert (grid.x0, grid.y0) == (0.0, 10.0)
    got = {(r.variable, r.row, r.col): r.value for r in cells.collect()}
    assert got == {("v", r, c): float(vals[r, c])
                   for r in range(2) for c in range(3)}


def test_zarr_dataset_v3_rewrite_clears_stale_zmetadata(spark, tmp_path):
    from pyramids_spark.api import SparkNetCDF

    store = str(tmp_path / "zs")
    g = Grid(x0=0.0, y0=4.0, cell=1.0, rows=4, cols=4, epsg=4326,
             nodata=-1.0)
    base = SparkDataset.create(spark, g, "CAST(row * 4 + col AS DOUBLE)")
    long = base.df.select(
        F.lit("a").alias("variable"), F.lit(0).cast("long").alias("t"),
        F.lit(0).cast("long").alias("band"), "row", "col", "value")
    nc = SparkNetCDF(long)
    nc.to_zarr_dataset(g, store, times=[0.0], zarr_format=2)
    assert os.path.exists(os.path.join(store, ".zmetadata"))
    # rewrite the SAME path as v3: the stale v2 document must not shadow
    import shutil

    shutil.rmtree(store)
    os.makedirs(store)
    nc.to_zarr_dataset(g, store, times=[0.0], zarr_format=2)
    nc_b = SparkNetCDF(long.withColumnRenamed("variable", "variable")
                       .withColumn("variable", F.lit("b")))
    nc_b.to_zarr_dataset(g, store, times=[0.0], zarr_format=3, mode="a")
    assert not os.path.exists(os.path.join(store, ".zmetadata"))
    # mode="a" is ADDITIVE: BOTH arrays must be
    # visible — the stale v2-era document would have hidden "b"
    back, _, meta = SparkNetCDF.from_zarr(spark, store)
    assert meta["variables"] == ["a", "b"]


def test_gzip_chunks_are_reproducible(spark, tmp_path):
    """A gzip stream's header holds no write time (mtime bytes 4-7 are
    zero), so two writes of the same cells give the same bytes: the raw
    codec and every chunk of a default-codec v3 store."""
    import gzip

    buf, _ = _payload()
    raw = B.raw_compress("gzip", buf)
    assert raw[4:8] == b"\0\0\0\0" and gzip.decompress(raw) == buf
    g = Grid(x0=0.0, y0=8.0, cell=1.0, rows=8, cols=8, epsg=4326,
             nodata=-9999.0)
    p = str(tmp_path / "g")
    SparkDataset(grid_df(spark, g), g).to_zarr(p, chunks=(4, 4),
                                                compress=5, zarr_format=3)
    chunks = [os.path.join(d, f_) for d, _, fs in os.walk(os.path.join(
        p, "c")) for f_ in fs]
    assert len(chunks) == 4
    for c in chunks:
        assert open(c, "rb").read()[4:8] == b"\0\0\0\0", c


def test_blosc_flag_clear_split_zstd_fallback():
    """A pre-1.11 / SPLITMODE=ALWAYS writer splits zstd blocks too with
    the dont-split flag clear: the decoder's policy guess fails its size
    checks and falls back to the other layout."""
    data = (np.arange(256, dtype="<i8") % 31).astype("<f8").tobytes()
    ts, nbytes = 8, len(data)  # 2048 bytes, 256 elems/lane >= 128
    per = nbytes // ts
    streams = b""
    for s0 in range(ts):
        piece = data[s0 * per:(s0 + 1) * per]
        comp = B.raw_compress("zstd", piece, 3)
        if len(comp) >= per:
            comp = piece
        streams += struct.pack("<i", len(comp)) + comp
    hdr = struct.pack("<4B3I", 2, 1, (4 << 5), ts,  # zstd fmt, flag CLEAR
                      nbytes, nbytes, 16 + 4 + len(streams))
    chunk = hdr + struct.pack("<I", 20) + streams
    assert B.decode_blosc(chunk) == data
    # and the modern single-stream flag-clear zstd layout still decodes
    plain = bytearray(B.encode_blosc(data, ts, "zstd", 3, shuffle=0))
    plain[2] &= ~0x10
    assert B.decode_blosc(bytes(plain)) == data


def test_zmetadata_with_nested_groups_is_safe(spark, tmp_path):
    """A consolidated document carrying nested-group keys (zarr-python
    writes these for hierarchies) must not crash discovery or surface
    group names as arrays — only DIRECT child arrays count."""
    from pyramids_spark import zarr as Z
    from pyramids_spark.api import SparkNetCDF

    store = str(tmp_path / "zn")
    g = Grid(x0=0.0, y0=4.0, cell=1.0, rows=4, cols=4, epsg=4326,
             nodata=-1.0)
    base = SparkDataset.create(spark, g, "CAST(row * 4 + col AS DOUBLE)")
    long = base.df.select(
        F.lit("v").alias("variable"), F.lit(0).cast("long").alias("t"),
        F.lit(0).cast("long").alias("band"), "row", "col", "value")
    SparkNetCDF(long).to_zarr_dataset(g, store, times=[0.0], zarr_format=2)
    doc = json.load(open(os.path.join(store, ".zmetadata")))
    doc["metadata"]["grp/inner/.zarray"] = {
        "zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8",
        "compressor": None, "fill_value": 0, "order": "C", "filters": None,
    }
    json.dump(doc, open(os.path.join(store, ".zmetadata"), "w"))
    assert Z.list_zarr_arrays(store) == ["time", "v", "x", "y"]
    back, _, meta = SparkNetCDF.from_zarr(spark, store)
    assert meta["variables"] == ["v"]
    assert back.df.count() == 16


def test_blosc_fallback_catches_struct_error():
    """A flag-clear lz4 chunk in the policy-split size regime that is
    actually NON-split: the split guess may read a stream header off the
    buffer end (struct.error) — the fallback must still fire."""
    data = (np.arange(256, dtype="<i8") % 13).astype("<f8").tobytes()
    plain = bytearray(B.encode_blosc(data, 8, "lz4", 5, shuffle=0))
    plain[2] &= ~0x10  # flag clear; policy says split, layout is not
    assert B.decode_blosc(bytes(plain)) == data


def test_zarr_cross_format_rewrite_no_stale_mixing(spark, tmp_path):
    """Rewriting a dataset store in the OTHER zarr format must not mix
    stale state in: not the root GROUP document (grid attrs), not the
    per-array metadata, and not the old format's chunk FILES — a missed
    chunk cleanup returns duplicated rows blending old and new values.
    Both directions, with DISTINCT values and count assertions."""
    from pyramids_spark.api import SparkNetCDF

    g1 = Grid(x0=0.0, y0=4.0, cell=1.0, rows=4, cols=4, epsg=4326,
              nodata=-1.0)
    g2 = Grid(x0=100.0, y0=50.0, cell=2.0, rows=4, cols=4, epsg=4326,
              nodata=-1.0)

    def cells(offset):
        base = SparkDataset.create(
            spark, g1, f"CAST(row * 4 + col + {offset} AS DOUBLE)")
        return base.df.select(
            F.lit("v").alias("variable"), F.lit(0).cast("long").alias("t"),
            F.lit(0).cast("long").alias("band"), "row", "col", "value")

    for first, second in ((3, 2), (2, 3)):
        store = str(tmp_path / f"sym{first}{second}")
        SparkNetCDF(cells(0)).to_zarr_dataset(
            g1, store, times=[0.0], zarr_format=first, georef="attrs")
        SparkNetCDF(cells(1000)).to_zarr_dataset(
            g2, store, times=[0.0], zarr_format=second, georef="attrs")
        back, grid, _ = SparkNetCDF.from_zarr(spark, store)
        assert (grid.x0, grid.y0, grid.cell) == (100.0, 50.0, 2.0)
        rows = back.df.collect()
        assert len(rows) == 16  # no duplicated stale chunks
        got = {(r.row, r.col): r.value for r in rows}
        assert got == {(r, c): float(r * 4 + c + 1000)
                       for r in range(4) for c in range(4)}
    # a corrupt root document from a crashed write is cleared, not fatal
    store = str(tmp_path / "crash")
    SparkNetCDF(cells(0)).to_zarr_dataset(g1, store, times=[0.0],
                                          zarr_format=3)
    open(os.path.join(store, "zarr.json"), "w").write('{"zarr_format": ')
    SparkNetCDF(cells(7)).to_zarr_dataset(g2, store, times=[0.0],
                                          zarr_format=2, georef="attrs")
    back, grid, _ = SparkNetCDF.from_zarr(spark, store)
    assert grid.x0 == 100.0 and back.df.count() == 16


def test_zarr_v3_consolidated_requires_kind(spark, tmp_path):
    """A consolidated_metadata without the spec-required 'kind' field is
    a foreign document — ignored, discovery falls back to the walk."""
    from pyramids_spark import zarr as Z
    from pyramids_spark.api import SparkNetCDF

    store = str(tmp_path / "nk")
    g = Grid(x0=0.0, y0=4.0, cell=1.0, rows=4, cols=4, epsg=4326,
             nodata=-1.0)
    base = SparkDataset.create(spark, g, "CAST(row * 4 + col AS DOUBLE)")
    long = base.df.select(
        F.lit("v").alias("variable"), F.lit(0).cast("long").alias("t"),
        F.lit(0).cast("long").alias("band"), "row", "col", "value")
    SparkNetCDF(long).to_zarr_dataset(g, store, times=[0.0], zarr_format=3)
    root_p = os.path.join(store, "zarr.json")
    root = json.load(open(root_p))
    del root["consolidated_metadata"]["kind"]
    root["consolidated_metadata"]["metadata"] = {}  # stale/partial
    json.dump(root, open(root_p, "w"))
    # the empty foreign doc must NOT hide the arrays
    assert Z.list_zarr_arrays(store) == ["time", "v", "x", "y"]


def test_zarr_dataset_mode_w_replaces_orphans_and_array_roots(spark,
                                                              tmp_path):
    """mode="w" (default) REPLACES: orphan variables from a prior write
    disappear, and a prior ARRAY store at the root (its georeferencing
    attrs and chunk tree) is cleared instead of shadowing the dataset."""
    from pyramids_spark.api import SparkNetCDF

    g1 = Grid(x0=0.0, y0=4.0, cell=1.0, rows=4, cols=4, epsg=4326,
              nodata=-1.0)
    g2 = Grid(x0=100.0, y0=50.0, cell=2.0, rows=4, cols=4, epsg=4326,
              nodata=-1.0)

    def nc(variables, offset):
        base = SparkDataset.create(
            spark, g1, f"CAST(row * 4 + col + {offset} AS DOUBLE)")
        parts = None
        for v in variables:
            p = base.df.select(
                F.lit(v).alias("variable"),
                F.lit(0).cast("long").alias("t"),
                F.lit(0).cast("long").alias("band"), "row", "col", "value")
            parts = p if parts is None else parts.unionByName(p)
        return SparkNetCDF(parts)

    # orphan variables: {a, b} then {a} → b must be GONE
    store = str(tmp_path / "orph")
    nc(["a", "b"], 0).to_zarr_dataset(g1, store, times=[0.0],
                                      zarr_format=2)
    nc(["a"], 500).to_zarr_dataset(g1, store, times=[0.0], zarr_format=2)
    back, _, meta = SparkNetCDF.from_zarr(spark, store)
    assert meta["variables"] == ["a"] and back.df.count() == 16
    # dataset over a prior ARRAY store: old attrs/chunks cleared
    store2 = str(tmp_path / "overarr")
    SparkDataset.create(spark, g1, "CAST(row AS DOUBLE)").to_zarr(
        store2, zarr_format=3)
    nc(["v"], 0).to_zarr_dataset(g2, store2, times=[0.0], zarr_format=2,
                                 georef="attrs")
    back, grid, _ = SparkNetCDF.from_zarr(spark, store2)
    assert grid.x0 == 100.0 and back.df.count() == 16
    # array write over a prior v2 GROUP store: the group markers go and
    # the new root array is what reads back
    store3 = str(tmp_path / "overgrp")
    nc(["v"], 0).to_zarr_dataset(g1, store3, times=[0.0], zarr_format=2)
    SparkDataset.create(spark, g1, "CAST(col AS DOUBLE)").to_zarr(store3)
    back2 = SparkDataset.from_zarr(spark, store3)
    got = {(r.row, r.col): r.value for r in back2.df.collect()}
    assert got == {(r, c): float(c) for r in range(4) for c in range(4)}


def test_blosclz_handcrafted_tokens_decode():
    """Hand-built blosclz token streams pin the DECODER to the FastLZ-
    derived format: literal runs, near matches, distance-0 runs, and
    7-length extension chains."""
    # literal "abc" + match (d=2 -> distance 3, L=3): "abcabc"
    assert B.blosclz_decompress(
        bytes([0x02]) + b"abc" + bytes([0x20, 0x02]), 6) == b"abcabc"
    # literal "x" + run token (dist field 0, L=5): "x" * 6
    assert B.blosclz_decompress(
        bytes([0x00]) + b"x" + bytes([0x60, 0x00]), 6) == b"x" * 6
    # literal "ab" + long match L=12 via extension (ctrl 7<<5, ext 3,
    # code d=1): overlapping forward copy repeats the pattern
    assert B.blosclz_decompress(
        bytes([0x01]) + b"ab" + bytes([0xE0, 0x03, 0x01]), 14) \
        == b"ab" + b"ab" * 6
    # declared-size mismatch is loud
    with pytest.raises(ValueError, match="expected"):
        B.blosclz_decompress(bytes([0x02]) + b"abc", 99)
    with pytest.raises(ValueError, match="truncated|overruns"):
        B.blosclz_decompress(bytes([0x05]) + b"ab", 6)


def test_blosclz_roundtrip_shapes():
    """Encoder→decoder over the shapes that exercise every token: runs,
    short/long matches, far (> 8191) distances, incompressible noise."""
    rng = np.random.default_rng(11)
    cases = [
        b"",
        b"A",
        b"A" * 500,                                   # long run
        bytes(range(256)) * 8,                        # periodic, d=255
        (b"0123456789" * 40)[:333],                   # period 10
        rng.integers(0, 256, 700, dtype=np.uint8).tobytes(),  # noise
        rng.integers(0, 4, 12000, dtype=np.uint8).tobytes(),  # matchy
        b"Z" * 9000 + b"needle" + b"Z" * 100 + b"needle",     # far match
    ]
    for data in cases:
        enc = B.blosclz_compress(data)
        assert B.blosclz_decompress(enc, len(data)) == data
    # far-distance copies really engage the two-byte escape
    far = b"\x00" * 1 + bytes(rng.integers(0, 256, 8500, dtype=np.uint8)) \
        + b"MARKER64" + bytes(rng.integers(0, 256, 200, dtype=np.uint8)) \
        + b"MARKER64"
    enc = B.blosclz_compress(far)
    assert B.blosclz_decompress(enc, len(far)) == far


def test_bitshuffle_pinned_vectors_and_roundtrip():
    """_bit_shuffle is the bitshuffle library's numpy reference
    (unpackbits -> (n, ts*8) transpose -> packbits, MSB-first); pinned
    single-byte vectors are hand-derivable."""
    # 8 u8 elements [255,0,...,0]: every out byte has only the MSB (the
    # e0 lane) set
    assert B._bit_shuffle(bytes([255] + [0] * 7), 1) == bytes([0x80] * 8)
    # [1]*8: only bit 7 (LSB) of every element -> out byte 7 = 0xFF
    assert B._bit_shuffle(bytes([1] * 8), 1) == bytes([0] * 7 + [0xFF])
    rng = np.random.default_rng(5)
    for ts in (1, 2, 4, 8):
        for n in (8 * ts, 64 * ts, 64 * ts + 5):  # incl. ragged tail
            data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
            shuf = B._bit_shuffle(data, ts)
            assert len(shuf) == len(data)
            assert B._bit_unshuffle(shuf, ts) == data
    # leftover elements (nel % 8) ride raw at the end
    data = bytes(range(100))  # ts=4 -> 25 elements, 24 shuffled + 1 raw
    shuf = B._bit_shuffle(data, 4)
    assert shuf[-4:] == data[-4:]
    assert B._bit_unshuffle(shuf, 4) == data


@pytest.mark.parametrize("cname", ["blosclz", "lz4", "zstd"])
@pytest.mark.parametrize("shuffle", [0, 1, 2])
def test_blosc_chunk_blosclz_and_bitshuffle(cname, shuffle):
    """Whole-chunk roundtrips across the new codec × shuffle matrix,
    including the numcodecs int-data default (blosclz + bitshuffle)."""
    data, ts = _payload(3000, "<i4")
    chunk = B.encode_blosc(data, ts, cname, 5, shuffle=shuffle)
    flags = chunk[2]
    if not flags & 0x2:  # unless the memcpy fallback engaged
        assert bool(flags & 0x4) == (shuffle == 2)
        assert (flags >> 5) == {"blosclz": 0, "lz4": 1, "zstd": 4}[cname]
    assert B.decode_blosc(chunk) == data


def test_blosc_blosclz_split_stream_roundtrip():
    """blosclz is in c-blosc's split_block() policy: flag-clear split
    chunks (typesize streams per block) decode — the vanilla-numcodecs
    default layout for pre-1.14 writers."""
    data, ts = _payload(6000)
    chunk = B.encode_blosc(data, ts, "blosclz", 5, shuffle=1,
                           blocksize=16384, split=True)
    assert not (chunk[2] & 0x10)  # dont-split bit clear
    assert B.decode_blosc(chunk) == data
