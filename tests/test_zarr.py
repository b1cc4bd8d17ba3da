"""Zarr v2 container round trip (pure-numpy writer/reader, no zarr lib):
byte-level chunk oracle, metadata fields, nodata contract, multiband."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyramids_spark.api import SparkDataset
from pyramids_spark.grid import COELLO, Grid, grid_df


def test_zarr_roundtrip_and_chunk_bytes(spark, tmp_path):
    store = str(tmp_path / "z")
    g = COELLO
    ds = SparkDataset(grid_df(spark, g), g)
    manifest = ds.to_zarr(store, chunks=(5, 4))
    # metadata is spec-shaped
    meta = json.load(open(os.path.join(store, ".zarray")))
    assert meta["zarr_format"] == 2 and meta["compressor"] is None
    assert meta["shape"] == [1, g.rows, g.cols] and meta["chunks"] == [1, 5, 4]
    assert meta["dtype"] == "<f8" and meta["order"] == "C"
    # manifest covers every non-empty chunk; bytes = full padded chunk
    assert (manifest["n_bytes"] == 5 * 4 * 8).all()
    assert manifest["n_cells"].sum() == ds.df.where(F.col("value").isNotNull()).count()
    # byte-level oracle: decode chunk (0,0,0) with raw numpy
    src = ds.df.toPandas()
    blk = np.full((5, 4), g.nodata, dtype=np.float64)
    sel = src[(src.row < 5) & (src.col < 4) & src.value.notna()]
    blk[sel.row.to_numpy(), sel.col.to_numpy()] = sel.value.to_numpy()
    raw = np.frombuffer(open(os.path.join(store, "0.0.0"), "rb").read(), "<f8")
    np.testing.assert_array_equal(raw.reshape(5, 4), blk)
    # round trip: identical cell set + grid
    back = SparkDataset.from_zarr(spark, store)
    assert back.grid == g
    a = {(r.band, r.row, r.col): r.value for r in ds.df.where(F.col("value").isNotNull()).collect()}
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b and len(a) > 0


def test_zarr_nan_fill_and_multiband(spark, tmp_path):
    store = str(tmp_path / "zn")
    g = Grid(x0=10.0, y0=20.0, cell=0.5, rows=7, cols=9, epsg=3857, nodata=None)
    ds = SparkDataset.create(spark, g, "CAST(row * 9 + col AS DOUBLE)", bands=2)
    d = ds.df.where((F.col("row") + F.col("col")) % 3 != 0)  # punch holes
    SparkDataset(d, g).to_zarr(store, chunks=(4, 4))
    meta = json.load(open(os.path.join(store, ".zarray")))
    assert meta["fill_value"] == "NaN" and meta["shape"] == [2, 7, 9]
    back = SparkDataset.from_zarr(spark, store)
    assert back.grid == g and back.grid.nodata is None
    a = {(r.band, r.row, r.col): r.value for r in d.collect()}
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b and len(a) > 0


def test_zarr_reader_rejects_foreign_stores(spark, tmp_path):
    store = tmp_path / "zf"
    store.mkdir()
    (store / ".zarray").write_text(json.dumps({
        "zarr_format": 2, "shape": [4, 4], "chunks": [2, 2], "dtype": "<f4",
        "compressor": {"id": "bz2"}, "fill_value": 0, "order": "C",
    }))
    with pytest.raises(NotImplementedError):
        SparkDataset.from_zarr(spark, str(store))


def test_zarr_zlib_compressed_roundtrip(spark, tmp_path):
    import zlib

    store = str(tmp_path / "zc")
    g = COELLO
    ds = SparkDataset(grid_df(spark, g), g)
    manifest = ds.to_zarr(store, chunks=(5, 4), compress=6)
    meta = json.load(open(os.path.join(store, ".zarray")))
    assert meta["compressor"] == {"id": "zlib", "level": 6}
    # chunks are genuinely deflated; bytes decompress to the dense block
    assert (manifest["n_bytes"] < 5 * 4 * 8).any()
    raw = zlib.decompress(open(os.path.join(store, "0.0.0"), "rb").read())
    assert len(raw) == 5 * 4 * 8
    back = SparkDataset.from_zarr(spark, store)
    a = {(r.band, r.row, r.col): r.value
         for r in ds.df.where(F.col("value").isNotNull()).collect()}
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b and back.grid == g


def test_zarr_dtype_roundtrips(spark, tmp_path):
    """VERDICT r4 #2: float32/uint8/int16 zarr stores round-trip; .zarray
    carries the right v2 dtype string and a JSON-number fill for ints."""
    import json
    from dataclasses import replace

    from pyramids_spark.grid import COELLO

    cases = [
        ("float32", COELLO, "<f4", 1),
        ("uint8", replace(COELLO, nodata=0.0), "|u1", None),
        ("int16", COELLO, "<i2", 3),
    ]
    for name, g, zstr, compress in cases:
        p = str(tmp_path / f"z_{name}")
        ds = SparkDataset(grid_df(spark, g), g)
        ds.to_zarr(p, chunks=(7, 9), compress=compress, dtype=name)
        meta = json.load(open(f"{p}/.zarray"))
        assert meta["dtype"] == zstr
        if not name.startswith("float"):
            assert isinstance(meta["fill_value"], int)
        back = SparkDataset.from_zarr(spark, p)
        assert back.grid == g
        a = {(r.band, r.row, r.col): r.value for r in ds.df.collect()}
        b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
        assert a == b and len(a) == 182


def test_zarr_int_dtype_guards(spark, tmp_path):
    from dataclasses import replace

    from pyramids_spark.grid import COELLO

    g = replace(COELLO, nodata=None)
    with pytest.raises(ValueError, match="explicit grid nodata"):
        SparkDataset(grid_df(spark, g), g).to_zarr(
            str(tmp_path / "z1"), dtype="int16"
        )
    with pytest.raises(ValueError, match="not exactly representable"):
        SparkDataset(grid_df(spark, COELLO), COELLO).to_zarr(
            str(tmp_path / "z2"), dtype="uint16"  # nodata -9999 < 0
        )


def test_sparse_cells_nan_drops_under_explicit_fill():
    """A NaN cell in a block with a NON-NaN fill sentinel must still drop:
    NaN != fill is True elementwise, so without the explicit isnan mask a
    NaN "value" row would leak through and violate the absent-row nodata
    contract every sink relies on."""
    from pyramids_spark import _blocks

    block = np.array([[1.0, 5.0], [np.nan, 2.0]])
    out = _blocks.sparse_cells(block, 0, 0, 0, 2, 2, fill=5.0)
    got = sorted(zip(out["row"], out["col"], out["value"]))
    assert got == [(0, 0, 1.0), (1, 1, 2.0)]


def test_zarr_v3_roundtrip_and_chunk_bytes(spark, tmp_path):
    """v3 store: zarr.json metadata, nested c/b/i/j gzip chunks; byte-level
    chunk oracle; round trip equals the source cell set."""
    import gzip as _gz

    store = str(tmp_path / "z3")
    g = COELLO
    ds = SparkDataset(grid_df(spark, g), g)
    man = ds.to_zarr(store, chunks=(5, 4), compress=6, zarr_format=3)
    meta = json.load(open(os.path.join(store, "zarr.json")))
    assert meta["zarr_format"] == 3 and meta["node_type"] == "array"
    assert meta["shape"] == [1, g.rows, g.cols]
    assert meta["chunk_grid"]["configuration"]["chunk_shape"] == [1, 5, 4]
    assert [c["name"] for c in meta["codecs"]] == ["bytes", "gzip"]
    assert meta["data_type"] == "float64"
    assert meta["attributes"]["epsg"] == g.epsg
    # byte-level oracle on chunk (0,0,0): gzip of the fill-padded block
    src = ds.df.toPandas()
    blk = np.full((5, 4), g.nodata, dtype=np.float64)
    sel = src[(src.row < 5) & (src.col < 4) & src.value.notna()]
    blk[sel.row.to_numpy(), sel.col.to_numpy()] = sel.value.to_numpy()
    raw = _gz.decompress(open(os.path.join(store, "c/0/0/0"), "rb").read())
    np.testing.assert_array_equal(np.frombuffer(raw, "<f8").reshape(5, 4), blk)
    assert (man["file"].str.startswith("c/")).all()
    back = SparkDataset.from_zarr(spark, store)
    assert back.grid == g
    a = {(r.band, r.row, r.col): r.value
         for r in ds.df.where(F.col("value").isNotNull()).collect()}
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b and len(a) > 0


def test_zarr_v3_foreign_layouts_and_rejects(spark, tmp_path):
    """Wild v3 layouts: "v2" chunk-key encoding with "." separator and a
    raw bytes-only pipeline read identically; foreign codecs reject
    loudly; uint16 dtype honors the bytes-codec endian."""
    import shutil

    g = Grid(x0=0.0, y0=8.0, cell=1.0, rows=8, cols=8, epsg=4326,
             nodata=9999.0)
    ds = SparkDataset.create(spark, g, "CAST(row * 8 + col AS DOUBLE)")
    store = str(tmp_path / "zv3")
    ds.to_zarr(store, chunks=(4, 4), dtype="uint16", zarr_format=3)
    meta = json.load(open(os.path.join(store, "zarr.json")))
    assert meta["data_type"] == "uint16" and meta["fill_value"] == 9999
    # rewrite as flat "v2"-encoded "." keys — same chunk bytes
    flat = tmp_path / "zflat"
    flat.mkdir()
    meta["chunk_key_encoding"] = {"name": "v2",
                                  "configuration": {"separator": "."}}
    (flat / "zarr.json").write_text(json.dumps(meta))
    for b in (0,):
        for ci in range(2):
            for cj in range(2):
                shutil.copyfile(
                    os.path.join(store, f"c/{b}/{ci}/{cj}"),
                    str(flat / f"{b}.{ci}.{cj}"),
                )
    a = {(r.band, r.row, r.col): r.value
         for r in SparkDataset.from_zarr(spark, store).df.collect()}
    b2 = {(r.band, r.row, r.col): r.value
          for r in SparkDataset.from_zarr(spark, str(flat)).df.collect()}
    assert a == b2 and len(a) == 64
    # foreign codec pipelines reject
    meta["codecs"] = [{"name": "bytes"}, {"name": "lz4"}]
    (flat / "zarr.json").write_text(json.dumps(meta))
    with pytest.raises(NotImplementedError, match="zarr v3"):
        SparkDataset.from_zarr(spark, str(flat))


def test_zarr_v3_sharded_roundtrip_and_index(spark, tmp_path):
    """sharding_indexed: one file per shard holding gzip inner chunks +
    an end-located uint64 (offset, nbytes) index with a crc32c footer;
    a fully-NULL inner chunk stores the missing sentinel and reads back
    as fill; a corrupted index fails loudly."""
    import struct

    from pyramids_spark import zarr as Z

    g = Grid(x0=0.0, y0=10.0, cell=1.0, rows=10, cols=12, epsg=32636,
             nodata=None)
    ds = SparkDataset.create(spark, g, "CAST(row * 12 + col AS DOUBLE)",
                             bands=2)
    # punch out ALL of inner chunk (rows 0-3, cols 4-7) in band 0
    d = ds.df.where(
        ~((F.col("band") == 0) & (F.col("row") < 4)
          & (F.col("col") >= 4) & (F.col("col") < 8))
    )
    store = str(tmp_path / "zs")
    man = SparkDataset(d, g).to_zarr(
        store, chunks=(4, 4), compress=5, zarr_format=3, shards=(8, 8)
    )
    assert set(man["file"].str.count("/")) == {3}  # c/b/si/sj keys
    assert len(man) == 2 * 2 * 2  # bands × shard grid 2×2
    meta = json.load(open(os.path.join(store, "zarr.json")))
    assert meta["codecs"][0]["name"] == "sharding_indexed"
    assert meta["chunk_grid"]["configuration"]["chunk_shape"] == [1, 8, 8]
    # shard (0,0,0): 2x2 inner chunks; slot (0,1) is the punched one
    raw = open(os.path.join(store, "c/0/0/0"), "rb").read()
    ib = raw[-(16 * 4 + 4):]
    (stored,) = struct.unpack("<I", ib[-4:])
    assert Z._crc32c(ib[:-4]) == stored
    index = np.frombuffer(ib[:-4], "<u8").reshape(4, 2)
    assert index[1, 0] == Z._UNDEF64 and index[1, 1] == Z._UNDEF64
    assert (index[[0, 2, 3], 0] != Z._UNDEF64).all()
    back = SparkDataset.from_zarr(spark, store)
    assert back.grid == g
    a = {(r.band, r.row, r.col): r.value for r in d.collect()}
    b = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
    assert a == b and len(a) == 2 * 120 - 16
    # corrupt one index byte → loud crc failure on read
    blob = bytearray(raw)
    blob[-10] ^= 0xFF
    open(os.path.join(store, "c/0/0/0"), "wb").write(bytes(blob))
    with pytest.raises(Exception, match="crc32c mismatch"):
        SparkDataset.from_zarr(spark, store).df.collect()
    # shard shape must tile the chunk shape
    with pytest.raises(ValueError, match="multiple of the chunk"):
        SparkDataset(d, g).to_zarr(str(tmp_path / "zb"), chunks=(4, 4),
                                   zarr_format=3, shards=(10, 8))


def test_zarr_group_stores_v2_and_v3(spark, tmp_path):
    """Group stores (the xarray per-variable layout): v2 .zgroup and v3
    group-node zarr.json with child arrays; list, open by name, open the
    single child implicitly, loud errors otherwise."""
    from pyramids_spark import zarr as Z

    g = Grid(x0=0.0, y0=6.0, cell=1.0, rows=6, cols=5, epsg=4326,
             nodata=-9.0)
    ds = SparkDataset.create(spark, g, "CAST(row * 5 + col AS DOUBLE)")
    # v2 group: .zgroup + two child arrays
    root = tmp_path / "grp2"
    root.mkdir()
    (root / ".zgroup").write_text(json.dumps({"zarr_format": 2}))
    ds.to_zarr(str(root / "precip"), chunks=(4, 4))
    ds.to_zarr(str(root / "temp"), chunks=(4, 4), compress=3)
    assert Z.list_zarr_arrays(str(root)) == ["precip", "temp"]
    back = SparkDataset.from_zarr(spark, str(root), array="temp")
    assert back.grid == g
    a = {(r.band, r.row, r.col): r.value for r in ds.df.collect()}
    assert {(r.band, r.row, r.col): r.value
            for r in back.df.collect()} == a
    with pytest.raises(ValueError, match="pass array="):
        SparkDataset.from_zarr(spark, str(root))
    with pytest.raises(ValueError, match="no array 'zzz'"):
        SparkDataset.from_zarr(spark, str(root), array="zzz")
    # v3 group: group-node zarr.json + ONE child → opens implicitly
    root3 = tmp_path / "grp3"
    root3.mkdir()
    (root3 / "zarr.json").write_text(
        json.dumps({"zarr_format": 3, "node_type": "group", "attributes": {}})
    )
    ds.to_zarr(str(root3 / "elev"), chunks=(4, 4), zarr_format=3,
               compress=2)
    assert Z.list_zarr_arrays(str(root3)) == ["elev"]
    back = SparkDataset.from_zarr(spark, str(root3))
    assert {(r.band, r.row, r.col): r.value
            for r in back.df.collect()} == a
    # array= on a non-group store is a usage error
    with pytest.raises(ValueError, match="only applies to group"):
        SparkDataset.from_zarr(spark, str(root3 / "elev"), array="x")


def test_zarr_cf_dataset_roundtrip_v2_and_v3(spark, tmp_path):
    """CF/xarray-style group: one (time,y,x) array per variable + 1-D
    y/x/time coordinates with dimension names; write distributed, read
    back through the shared derive_grid georeferencing."""
    from pyramids_spark.api import SparkNetCDF
    from pyramids_spark.grid import COELLO, grid_df

    base = grid_df(spark, COELLO)
    vt = spark.createDataFrame(
        [(v, vi, t) for vi, v in enumerate(("precip", "temp"))
         for t in range(2)],
        "variable string, vi long, t long",
    )
    cells = base.crossJoin(F.broadcast(vt)).select(
        "variable", "t", "row", "col",
        (F.col("value") + F.col("vi") * 1000 + F.col("t") * 10).alias("value"),
    )
    exp = {(r.variable, r.t, r.row, r.col): r.value
           for r in cells.where(F.col("value").isNotNull()).collect()}
    for zf in (2, 3):
        store = str(tmp_path / f"ds{zf}")
        nc = SparkNetCDF(cells.withColumn("band", F.lit(0).cast("long")))
        man = nc.to_zarr_dataset(COELLO, store, times=[5.0, 6.0],
                                 compress=3, chunks=(7, 9), zarr_format=zf)
        assert sorted(set(man["variable"])) == ["precip", "temp"]
        back, g2, meta = SparkNetCDF.from_zarr(spark, store)
        assert (g2.rows, g2.cols, g2.cell, g2.x0, g2.y0) == (
            COELLO.rows, COELLO.cols, COELLO.cell, COELLO.x0, COELLO.y0)
        assert meta["times"] == [5.0, 6.0]
        assert meta["variables"] == ["precip", "temp"]
        got = {(r.variable, r.t, r.row, r.col): r.value
               for r in back.df.collect()}
        assert got == exp and len(got) == 2 * 2 * 182


def test_zarr_cf_dataset_2d_and_time_chunks(spark, tmp_path):
    """2-D (y, x) variables (times=None) read as t=0; a wild 3-D store
    with time-chunk > 1 (the xarray default) decodes every record."""
    import shutil

    from pyramids_spark.api import SparkNetCDF
    from pyramids_spark.grid import COELLO, grid_df

    base = grid_df(spark, COELLO).select(
        F.lit("v").alias("variable"), F.lit(0).cast("long").alias("t"),
        "row", "col", "value",
    )
    store = str(tmp_path / "flat")
    nc = SparkNetCDF(base.withColumn("band", F.lit(0).cast("long")))
    nc.to_zarr_dataset(COELLO, store, times=None, zarr_format=3)
    meta3 = json.load(open(os.path.join(store, "v/zarr.json")))
    assert len(meta3["shape"]) == 2  # genuinely 2-D on disk
    assert meta3["dimension_names"] == ["y", "x"]
    back, g2, meta = SparkNetCDF.from_zarr(spark, store)
    assert meta["times"] is None and meta["numrecs"] == 0
    a = {(r.t, r.row, r.col): r.value for r in back.df.collect()}
    b = {(0, r.row, r.col): r.value
         for r in base.where(F.col("value").isNotNull()).collect()}
    assert a == b
    # wild time-chunked store: rewrite the 3-D variable's chunks to cb=2
    # by concatenating record chunks (v2 layout, raw)
    src = str(tmp_path / "tc")
    cells = base.select("variable", F.lit(0).cast("long").alias("t"),
                        "row", "col", "value").unionByName(
        base.select("variable", F.lit(1).cast("long").alias("t"), "row",
                    "col", (F.col("value") + 100).alias("value")))
    SparkNetCDF(cells.withColumn("band", F.lit(0).cast("long"))) \
        .to_zarr_dataset(COELLO, src, times=[0.0, 1.0], chunks=(16, 16))
    vdir = os.path.join(src, "v")
    zm = json.load(open(os.path.join(vdir, ".zarray")))
    zm["chunks"] = [2] + zm["chunks"][1:]
    json.dump(zm, open(os.path.join(vdir, ".zarray"), "w"))
    for f_ in sorted(os.listdir(vdir)):
        if f_.startswith("0."):
            a0 = open(os.path.join(vdir, f_), "rb").read()
            a1 = open(os.path.join(vdir, "1." + f_[2:]), "rb").read()
            open(os.path.join(vdir, f_), "wb").write(a0 + a1)
            os.remove(os.path.join(vdir, "1." + f_[2:]))
    back, _, _ = SparkNetCDF.from_zarr(spark, src)
    got = {(r.t, r.row, r.col): r.value for r in back.df.collect()}
    want = {(r.t, r.row, r.col): r.value
            for r in cells.where(F.col("value").isNotNull()).collect()}
    assert got == want


def test_zarr_cf_dataset_plan_is_shuffle_free(spark, tmp_path):
    """The CF dataset read is a union of per-variable chunk scans — a
    Project over MapInPandas over FileScan, NO Exchange anywhere (the
    100 TB property: adding variables adds scans, never shuffles)."""
    from pyramids_spark.api import SparkNetCDF
    from pyramids_spark.grid import COELLO, grid_df

    base = grid_df(spark, COELLO).select(
        F.lit("v").alias("variable"), F.lit(0).cast("long").alias("t"),
        "row", "col", "value",
    )
    store = str(tmp_path / "plan")
    SparkNetCDF(base.withColumn("band", F.lit(0).cast("long"))) \
        .to_zarr_dataset(COELLO, store, times=[0.0])
    back, _, _ = SparkNetCDF.from_zarr(spark, store)
    plan = back.df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_zarr_consolidated_metadata(spark, tmp_path):
    """v2 group stores write .zmetadata (consolidated format 1 — the
    xarray/cloud convention) and the readers answer discovery from it:
    a store whose per-directory metadata is REMOVED still lists and
    reads through the consolidated document alone for metadata."""
    import shutil

    from pyramids_spark import zarr as Z
    from pyramids_spark.api import SparkNetCDF
    from pyramids_spark.grid import COELLO, grid_df

    base = grid_df(spark, COELLO)
    cells = base.select(
        F.lit("pr").alias("variable"), F.lit(0).cast("long").alias("t"),
        F.lit(0).cast("long").alias("band"), "row", "col", "value")
    store = str(tmp_path / "cm")
    SparkNetCDF(cells).to_zarr_dataset(COELLO, store, times=[3.0],
                                       compress=2, zarr_format=2)
    doc = json.load(open(os.path.join(store, ".zmetadata")))
    assert doc["zarr_consolidated_format"] == 1
    keys = set(doc["metadata"])
    assert {".zgroup", ".zattrs", "pr/.zarray", "pr/.zattrs",
            "x/.zarray", "y/.zarray", "time/.zarray"} <= keys
    assert Z.list_zarr_arrays(store) == ["pr", "time", "x", "y"]
    exp = {(r.variable, r.t, r.row, r.col): r.value
           for r in cells.where(F.col("value").isNotNull()).collect()}
    back, g2, _ = SparkNetCDF.from_zarr(spark, store)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp
    # discovery survives without the per-variable .zattrs sidecars:
    # dims/compressor resolve from the consolidated document
    for v in ("pr", "time", "x", "y"):
        os.remove(os.path.join(store, v, ".zattrs"))
    back2, _, _ = SparkNetCDF.from_zarr(spark, store)
    got2 = {(r.variable, r.t, r.row, r.col): r.value
            for r in back2.df.collect()}
    assert got2 == exp
    # a stale/foreign .zmetadata version is ignored, not trusted
    json.dump({"zarr_consolidated_format": 2, "metadata": {}},
              open(os.path.join(store, ".zmetadata"), "w"))
    assert Z.list_zarr_arrays(store) == ["pr", "time", "x", "y"]


def test_zarr_v3_inline_consolidated_metadata(spark, tmp_path):
    """v3 dataset writes inline consolidated_metadata into the root
    group zarr.json (the zarr-python 3 layout); discovery reads it —
    removing an entry from the document hides that array, proving the
    document (not the directory walk) answers."""
    from pyramids_spark import zarr as Z
    from pyramids_spark.api import SparkNetCDF

    store = str(tmp_path / "c3")
    g = Grid(x0=0.0, y0=5.0, cell=1.0, rows=5, cols=4, epsg=4326,
             nodata=-1.0)
    base = SparkDataset.create(spark, g, "CAST(row * 4 + col AS DOUBLE)")
    long = base.df.select(
        F.lit("pr").alias("variable"), F.lit(0).cast("long").alias("t"),
        F.lit(0).cast("long").alias("band"), "row", "col", "value")
    SparkNetCDF(long).to_zarr_dataset(g, store, times=[2.0], zarr_format=3)
    root = json.load(open(os.path.join(store, "zarr.json")))
    cm = root["consolidated_metadata"]
    assert cm["kind"] == "inline" and cm["must_understand"] is False
    assert set(cm["metadata"]) == {"pr", "time", "x", "y"}
    assert cm["metadata"]["pr"]["node_type"] == "array"
    assert Z.list_zarr_arrays(store) == ["pr", "time", "x", "y"]
    exp = {(r.variable, r.t, r.row, r.col): r.value
           for r in long.where(F.col("value").isNotNull()).collect()}
    from pyramids_spark.api import SparkNetCDF as NC

    back, _, meta = NC.from_zarr(spark, store)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp and meta["variables"] == ["pr"]
    # the document is authoritative for discovery: drop "pr" from it
    del cm["metadata"]["pr"]
    json.dump(root, open(os.path.join(store, "zarr.json"), "w"))
    assert Z.list_zarr_arrays(store) == ["time", "x", "y"]


def test_int_typed_cells_roundtrip_zarr_and_cog_parts(spark, tmp_path):
    """An INT-typed (band, row, col) cell table must land every value in
    its own cell in both packed-key sinks: the row·2³² + col shuffle key
    is computed in long, not in int (where a 32-bit shift is a no-op and
    rc collapses to row + col)."""
    g = Grid(x0=0.0, y0=20.0, cell=1.0, rows=20, cols=12, epsg=4326, nodata=-9999.0)
    cells_df = grid_df(spark, g, "CAST(row * 100 + col + 1 AS DOUBLE)", bands=2).select(
        F.col("band").cast("int").alias("band"),
        F.col("row").cast("int").alias("row"),
        F.col("col").cast("int").alias("col"),
        "value",
    )
    want = {(r.band, r.row, r.col): r.value for r in cells_df.collect()}
    assert len(want) == 2 * 20 * 12
    ds = SparkDataset(cells_df, g)
    ds.to_zarr(str(tmp_path / "z"), chunks=(8, 8))
    ds.to_cog_parts(str(tmp_path / "p"), shard=(16, 8), tile=(8, 8))
    for back in (SparkDataset.from_zarr(spark, str(tmp_path / "z")),
                 SparkDataset.from_geotiff_parts(spark, str(tmp_path / "p"))):
        got = {(r.band, r.row, r.col): r.value for r in back.df.collect()}
        assert got == want


@pytest.mark.parametrize("bad", [(-1, 3), (20, 3), (3, 12)])
def test_out_of_extent_cell_fails_loudly_in_zarr_and_cog_parts(spark, tmp_path, bad):
    """A cell at row = -1, row = rows or col = cols must raise in every
    packed-key sink — zarr v2, v3 and v3-sharded, and the COG parts —
    instead of landing in a wrapped or neighbouring cell of some chunk."""
    from pyramids_spark import tiff, zarr

    g = Grid(x0=0.0, y0=20.0, cell=1.0, rows=20, cols=12, epsg=4326, nodata=-9999.0)
    extra = spark.createDataFrame(
        [(0, bad[0], bad[1], 7.0)], "band long, row long, col long, value double")
    cells_df = grid_df(spark, g).unionByName(extra)
    writes = {
        "v2": lambda p: zarr.write_zarr(cells_df, g, p, chunks=(4, 4)),
        "v3": lambda p: zarr.write_zarr(cells_df, g, p, chunks=(4, 4), zarr_format=3),
        "v3_sharded": lambda p: zarr.write_zarr(
            cells_df, g, p, chunks=(4, 4), zarr_format=3, shards=(8, 8)),
        "cog_parts": lambda p: tiff.write_cog_parts(
            cells_df, g, 1, p, shard=(8, 8), tile=(4, 4), levels=()),
    }
    for name, write in writes.items():
        with pytest.raises(Exception, match="outside grid extent"):
            write(str(tmp_path / name))


def test_cog_parts_keep_cells_past_row_2_21(spark, tmp_path):
    """A cell at row ≥ 2²¹ packs to rc ≥ 2⁵³. The parts writer must hand
    rc to its build tasks as int64: as float64 it rounds onto a
    neighbouring cell of the same part, which the extent guard cannot
    see."""
    from pyramids_spark import tiff

    rows = (1 << 21) + 4
    g = Grid(x0=0.0, y0=float(rows), cell=1.0, rows=rows, cols=2, epsg=4326,
             nodata=-9999.0)
    cells_df = spark.createDataFrame(
        [(0, (1 << 21) + 1, 1, 7.0)], "band long, row long, col long, value double")
    tiff.write_cog_parts(cells_df, g, 1, str(tmp_path / "p"),
                         shard=(1 << 19, 2), tile=(256, 16), levels=())
    back, _, _ = tiff.read_geotiff_parts(spark, str(tmp_path / "p"))
    got = [(r.band, r.row, r.col, r.value) for r in back.collect()]
    assert got == [(0, (1 << 21) + 1, 1, 7.0)]


_G8 = Grid(x0=0.0, y0=8.0, cell=1.0, rows=8, cols=8, epsg=4326, nodata=-9999.0)


def _null_band_cells(spark):
    """Two bands of the 8×8 grid; every cell of band 1 is null."""
    return grid_df(spark, _G8, bands=2).select(
        "band", "row", "col",
        F.when(F.col("band") == 0, F.col("value")).alias("value"))


def test_declared_shape_keeps_all_null_bands_and_variables(spark, tmp_path):
    """A band or variable whose every cell is null is still declared:
    write_zarr keeps shape [2, …] for an all-null band 1 (v2 and v3
    sharded) and declares one band for an empty input;
    write_zarr_dataset(variables=None) declares an all-null variable."""
    from pyramids_spark import zarr as Z

    empty = spark.createDataFrame(
        [], "band long, row long, col long, value double")
    for name, df, bands in (("nullband", _null_band_cells(spark), 2),
                            ("empty", empty, 1)):
        for doc, kw in ((".zarray", {}),
                        ("zarr.json", dict(zarr_format=3, shards=(8, 8)))):
            p = str(tmp_path / f"{name}{len(kw)}")
            Z.write_zarr(df, _G8, p, chunks=(4, 4), **kw)
            meta = json.load(open(os.path.join(p, doc)))
            assert meta["shape"] == [bands, 8, 8], (name, doc)
    cells = _null_band_cells(spark).select(
        F.when(F.col("band") == 0, "a").otherwise("b").alias("variable"),
        F.lit(0).cast("long").alias("t"), "row", "col", "value")
    for zf in (2, 3):
        p = str(tmp_path / f"ds{zf}")
        Z.write_zarr_dataset(cells, _G8, p, times=[0.0], chunks=(4, 4),
                             zarr_format=zf)
        assert Z.list_zarr_arrays(p) == ["a", "b", "time", "x", "y"]
        _, _, meta = Z.read_zarr_dataset(spark, p)
        assert meta["variables"] == ["a", "b"]


def test_zarr_dataset_declares_time_length_from_times(spark, tmp_path):
    """Every 3-D variable is declared with len(times) records, whatever
    records its own rows hold: variable a has rows only at t=0 and b only
    at t=2, and both get shape [3, 8, 8]."""
    from pyramids_spark import zarr as Z

    base = grid_df(spark, _G8)
    cells = base.select(F.lit("a").alias("variable"),
                        F.lit(0).cast("long").alias("t"), "row", "col",
                        "value").unionByName(
        base.select(F.lit("b").alias("variable"),
                    F.lit(2).cast("long").alias("t"), "row", "col", "value"))
    for zf, doc in ((2, ".zarray"), (3, "zarr.json")):
        p = str(tmp_path / f"t{zf}")
        Z.write_zarr_dataset(cells, _G8, p, times=[0.0, 1.0, 2.0],
                             chunks=(4, 4), zarr_format=zf)
        for v in ("a", "b"):
            meta = json.load(open(os.path.join(p, v, doc)))
            assert meta["shape"] == [3, 8, 8], (zf, v)
        back, _, meta = Z.read_zarr_dataset(spark, p)
        assert meta["dims"]["time"] == 3 and meta["numrecs"] == 3
        got = {(r.variable, r.t) for r in back.select("variable", "t")
               .distinct().collect()}
        assert got == {("a", 0), ("b", 2)}


def _chunk_files(store: str) -> dict:
    """Chunk payloads of an array store by relative path (metadata
    documents excluded)."""
    out = {}
    for d, _, files in os.walk(store):
        for f_ in files:
            if f_ not in (".zarray", ".zattrs", "zarr.json"):
                p = os.path.join(d, f_)
                out[os.path.relpath(p, store)] = open(p, "rb").read()
    return out


def test_zarr_dataset_chunks_equal_write_zarr_chunks(spark, tmp_path):
    """Each write_zarr_dataset variable's chunk files are byte-equal to
    write_zarr's for the same cells (t as the band), v2 and v3."""
    from pyramids_spark import zarr as Z

    base = grid_df(spark, COELLO)
    cells = base.select(F.lit("p").alias("variable"),
                        F.lit(0).cast("long").alias("t"), "row", "col",
                        "value").unionByName(
        base.select(F.lit("q").alias("variable"),
                    F.lit(1).cast("long").alias("t"), "row", "col",
                    (F.col("value") * 3).alias("value")))
    for zf in (2, 3):
        ds = str(tmp_path / f"ds{zf}")
        Z.write_zarr_dataset(cells, COELLO, ds, times=[0.0, 1.0],
                             chunks=(5, 4), compress=3, zarr_format=zf,
                             codec="zstd")
        for v in ("p", "q"):
            one = str(tmp_path / f"{v}{zf}")
            Z.write_zarr(cells.where(F.col("variable") == v).select(
                F.col("t").alias("band"), "row", "col", "value"),
                COELLO, one, chunks=(5, 4), compress=3, zarr_format=zf,
                codec="zstd")
            want = _chunk_files(one)
            assert want and _chunk_files(os.path.join(ds, v)) == want, (zf, v)


def test_zarr_dataset_2d_chunk_keys(spark, tmp_path):
    """A 2-D dataset variable (times=None) of shape [rows, cols] names
    its chunks with two parts, ``i.j`` (v2) and ``c/i/j`` (v3), where a
    standard zarr reader looks; each raw chunk holds its fill-padded
    block. Stores written with the older 3-part names (``0.i.j`` /
    ``c/0/i/j``) still read."""
    from pyramids_spark import zarr as Z

    g = Grid(x0=0.0, y0=13.0, cell=1.0, rows=13, cols=14, epsg=4326,
             nodata=-9999.0)
    base = grid_df(spark, g)
    cells = base.select(F.lit("v").alias("variable"),
                        F.lit(0).cast("long").alias("t"), "row", "col",
                        "value")
    dense = np.full((16, 16), -9999.0)
    for r in base.collect():
        dense[r.row, r.col] = r.value
    want = {(r.row, r.col): r.value for r in base.collect()}
    for zf in (2, 3):
        p = str(tmp_path / f"flat{zf}")
        Z.write_zarr_dataset(cells, g, p, chunks=(8, 8), zarr_format=zf)
        vdir = os.path.join(p, "v")
        names = {f"{i}.{j}" if zf == 2 else f"c/{i}/{j}"
                 for i in (0, 1) for j in (0, 1)}
        assert set(_chunk_files(vdir)) == names
        for n in names:
            i, j = (int(x) for x in n.replace("c/", "").replace("/", ".")
                    .split("."))
            blk = np.frombuffer(open(os.path.join(vdir, n), "rb").read(),
                                "<f8").reshape(8, 8)
            assert np.array_equal(
                blk, dense[i * 8:(i + 1) * 8, j * 8:(j + 1) * 8]), (zf, n)
        # the older 3-part names of the same chunks
        if zf == 2:
            for n in names:
                os.replace(os.path.join(vdir, n), os.path.join(vdir, "0." + n))
        else:
            os.replace(os.path.join(vdir, "c"), os.path.join(vdir, "c0"))
            os.makedirs(os.path.join(vdir, "c"))
            os.replace(os.path.join(vdir, "c0"), os.path.join(vdir, "c/0"))
        back, _, _ = Z.read_zarr_dataset(spark, p)
        assert {(r.row, r.col): r.value for r in back.collect()} == want


def test_zarr_dataset_t_outside_times_fails_loudly(spark, tmp_path):
    """A cell whose t lies outside ``times`` (or is not 0 when ``times``
    is None) would land outside the declared shape and read back as
    nothing: the encode fails loudly instead, as write_netcdf4 does."""
    from pyramids_spark import zarr as Z

    cells = grid_df(spark, _G8).select(
        F.lit("v").alias("variable"), F.lit(2).cast("long").alias("t"),
        "row", "col", "value")
    for times in ([0.0], None):
        with pytest.raises(Exception, match="outside the declared shape"):
            Z.write_zarr_dataset(cells, _G8, str(tmp_path / "bad"),
                                 times=times, chunks=(4, 4))
    assert not os.path.exists(str(tmp_path / "bad") + "._chunks")


def test_zarr_write_job_audit(spark, tmp_path, build_jobs):
    """write_zarr runs the jobs of one encode, which also observes the
    band count (unsharded and sharded alike); write_zarr_dataset with two
    variables runs one encode for both, which observes the variable set
    when ``variables`` is None."""
    from pyramids_spark import zarr as Z

    cells = _null_band_cells(spark)
    p = str(tmp_path / "z")
    assert build_jobs(lambda: Z.write_zarr(cells, _G8, p, chunks=(4, 4)),
                      "zarr-plain") == 2
    assert build_jobs(lambda: Z.write_zarr(
        cells, _G8, p, chunks=(4, 4), zarr_format=3, shards=(8, 8)),
        "zarr-sharded") == 2
    ds = cells.select(
        F.when(F.col("band") == 0, "a").otherwise("b").alias("variable"),
        F.lit(0).cast("long").alias("t"), "row", "col", "value")
    assert build_jobs(lambda: Z.write_zarr_dataset(
        ds, _G8, str(tmp_path / "ds"), times=[0.0], chunks=(4, 4),
        zarr_format=3), "zarr-dataset") == 2
    assert build_jobs(lambda: Z.write_zarr_dataset(
        ds, _G8, str(tmp_path / "ds"), times=[0.0], chunks=(4, 4),
        zarr_format=3, variables=["a", "b"]), "zarr-dataset-vars") == 2
