"""netCDF-4 (HDF5) container tests — pyramids_spark.hdf5.

Reference behavior: ``/root/reference/src/pyramids/netcdf/netcdf.py``
``read_file``/``to_file`` (netcdf-c/HDF5 via GDAL); tests under
``tests/netcdf/``. Everything here runs against files produced by the
in-repo writer (there is no other HDF5 producer in the sandbox), plus
hand-built fixtures for the wild-format layouts the writer never emits
(version-2 object headers, compact Link messages, foreign filters)."""

import os
import struct

import numpy as np
import pytest

from pyramids_spark import hdf5
from pyramids_spark.api import SparkNetCDF
from pyramids_spark.grid import Grid

G = Grid(x0=0.0, y0=100.0, cell=2.0, rows=13, cols=7, epsg=32636,
         nodata=None)


def _cells(spark, variables=("precip", "temp"), nt=3):
    rows = []
    for vi, v in enumerate(variables):
        for t in range(nt):
            for r in range(G.rows):
                for c in range(G.cols):
                    if (r * G.cols + c) % 5 == 0:
                        continue  # holes stay holes through the round trip
                    rows.append(
                        (v, t, r, c, float(r * G.cols + c)
                         + t * 100.0 + vi * 1000.0)
                    )
    df = spark.createDataFrame(
        rows, "variable string, t long, row long, col long, value double"
    )
    return df, {(v, t, r, c): val for v, t, r, c, val in rows}


def test_netcdf4_roundtrip_multivar_int16(spark, tmp_path):
    """Two chunked int16 variables × three records with shuffle+deflate
    and a _FillValue; read back through the sniffing read_file entry."""
    from dataclasses import replace

    g = replace(G, nodata=-9999.0)
    df, exp = _cells(spark)
    man = SparkNetCDF(df).to_netcdf4(
        g, str(tmp_path / "a.nc"), times=[10.0, 20.0, 30.0], dtype="int16",
        chunk=(4, 4),
    )
    assert len(man) == 2 * 3 * 4 * 2  # vars × t × ceil(13/4) × ceil(7/4)
    back, g2, meta = SparkNetCDF.read_file(spark, str(tmp_path / "a.nc"))
    assert (g2.rows, g2.cols, g2.cell, g2.x0, g2.y0) == (13, 7, 2.0, 0.0,
                                                         100.0)
    assert g2.epsg == 32636 and meta["times"] == [10.0, 20.0, 30.0]
    assert meta["dims"] == {"time": 3, "y": 13, "x": 7}
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp
    # file is a real HDF5 container, not a lookalike
    assert open(tmp_path / "a.nc", "rb").read(8) == b"\x89HDF\r\n\x1a\n"


def test_netcdf4_cf_ascending_y_flips(spark, tmp_path):
    """georef='coords-ascending' writes the wild-CF layout (no engine
    attrs, ascending y coordinate): the grid must be derived from the
    coordinate variables and the rows flipped back."""
    df, exp = _cells(spark, variables=("a",), nt=1)
    SparkNetCDF(df).to_netcdf4(
        G, str(tmp_path / "cf.nc"), times=[0.0], chunk=(4, 4),
        georef="coords-ascending",
    )
    back, g2, _ = SparkNetCDF.read_file(spark, str(tmp_path / "cf.nc"))
    assert (g2.rows, g2.cols, g2.cell, g2.x0, g2.y0) == (13, 7, 2.0, 0.0,
                                                         100.0)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp


def test_netcdf4_multilevel_chunk_btree(spark, tmp_path):
    """A 3-level v1 chunk B-tree (cap 3 forces internal nodes) decodes
    identically to the single-node layout."""
    df, exp = _cells(spark, variables=("a",), nt=2)
    hdf5.write_netcdf4(df, G, str(tmp_path / "deep.nc"), times=[0.0, 1.0],
                       chunk=(2, 2), btree_cap=3)
    cells, _, _ = hdf5.read_netcdf4(spark, str(tmp_path / "deep.nc"))
    got = {(r.variable, r.t, r.row, r.col): r.value for r in cells.collect()}
    assert got == exp


def test_netcdf4_uncompressed_and_2d(spark, tmp_path):
    """No filter pipeline + 2-D (y, x) variables (times=None)."""
    df, exp = _cells(spark, variables=("a", "b"), nt=1)
    hdf5.write_netcdf4(df, G, str(tmp_path / "raw.nc"), times=None,
                       compress=None, shuffle=False, chunk=(8, 8))
    cells, _, meta = hdf5.read_netcdf4(spark, str(tmp_path / "raw.nc"))
    assert meta["times"] is None and "time" not in meta["dims"]
    got = {(r.variable, r.t, r.row, r.col): r.value for r in cells.collect()}
    assert got == exp


def test_netcdf4_foreign_filter_rejects(spark, tmp_path):
    """A chunk pipeline with szip (id 4) must reject loudly at plan
    time — binary-patch the shuffle filter id in a real file."""
    df, _ = _cells(spark, variables=("a",), nt=1)
    hdf5.write_netcdf4(df, G, str(tmp_path / "f.nc"), times=[0.0],
                       chunk=(8, 8))
    raw = bytearray((tmp_path / "f.nc").read_bytes())
    pat = struct.pack("<BB6x", 1, 2) + struct.pack("<HHHHI4x", 2, 0, 0, 1, 8)
    at = raw.find(pat)
    assert at >= 0
    struct.pack_into("<H", raw, at + 8, 4)  # shuffle → szip
    (tmp_path / "f.nc").write_bytes(bytes(raw))
    with pytest.raises(NotImplementedError, match="filter ids \\[4\\]"):
        hdf5.read_netcdf4(spark, str(tmp_path / "f.nc"))


def test_hdf5_v2_superblock_and_object_headers(tmp_path):
    """Hand-built 'latest-format' fixture: superblock v2 + a root OHDR
    (v2) holding Link Info + a compact hard Link message to a contiguous
    big-endian float32 dataset with a v2 attribute. Exercises every
    new-style path the in-repo writer never emits."""
    vals = np.arange(12, dtype=">f4").reshape(3, 4)

    data_at = 48
    dset_msgs = [
        hdf5._msg(0x0001, hdf5._ds_msg((3, 4))),
        hdf5._msg(0x0003, hdf5._dt_float(4, big_endian=True)),
        hdf5._layout_contig(data_at, vals.nbytes),
    ]
    dset = hdf5._ohdr_v1(dset_msgs)
    dset_at = data_at + vals.nbytes

    # root OHDR v2: flags 0 → 1-byte chunk0 size, no times, no corder
    link_info = struct.pack("<BB", 0, 0) + struct.pack(
        "<QQ", hdf5.UNDEF, hdf5.UNDEF
    )
    link = struct.pack("<BBB", 1, 0, 1) + b"d" + struct.pack("<Q", dset_at)

    def v2msg(t, body):
        return struct.pack("<BHB", t, len(body), 0) + body

    msgs = v2msg(0x02, link_info) + v2msg(0x06, link)
    root = (b"OHDR" + struct.pack("<BBB", 2, 0, len(msgs)) + msgs
            + struct.pack("<I", 0))  # checksum unverified by the reader
    root_at = dset_at + len(dset)

    sb = (b"\x89HDF\r\n\x1a\n" + struct.pack("<BBBB", 2, 8, 8, 0)
          + struct.pack("<QQQQ", 0, hdf5.UNDEF, root_at + len(root),
                        root_at) + struct.pack("<I", 0))
    assert len(sb) == 48

    blob = bytearray(root_at + len(root))
    blob[:48] = sb
    blob[data_at:data_at + vals.nbytes] = vals.tobytes()
    blob[dset_at:dset_at + len(dset)] = dset
    blob[root_at:] = root
    p = tmp_path / "v2.h5"
    p.write_bytes(bytes(blob))

    h5 = hdf5._H5Meta(str(p))
    links = h5.group_links(h5.messages(h5.root))
    assert links == {"d": dset_at}
    meta = h5.dataset(dset_at)
    assert meta["shape"] == [3, 4]
    assert meta["dtype"] == ("np", np.dtype(">f4"))
    got = h5.read_array(meta)
    assert got.dtype == np.dtype(">f4") and np.array_equal(got, vals)


def test_hdf5_guards():
    """Loud rejects: layout v5 and a foreign v4 chunk-index type. (Dense
    group links used to reject here — they PARSE now, via the fractal
    heap; see test_hdf5_dense_attributes_and_links.)"""
    with pytest.raises(NotImplementedError, match="layout message v5"):
        hdf5._parse_layout(bytes([5, 2, 1]) + b"\x00" * 20)
    # v4 chunked with an unknown chunk-index type
    with pytest.raises(NotImplementedError, match="chunk index type 9"):
        hdf5._parse_layout(bytes([4, 2, 0, 3, 1, 4, 4, 8, 9]) + b"\x00" * 8)


def test_netcdf4_sel_and_decode_compose(spark, tmp_path):
    """The returned surface is a full SparkNetCDF: sel on t and
    get_variable prune the long table as usual."""
    df, exp = _cells(spark)
    SparkNetCDF(df).to_netcdf4(G, str(tmp_path / "s.nc"),
                               times=[10.0, 20.0, 30.0], chunk=(4, 4))
    back, _, _ = SparkNetCDF.read_file(spark, str(tmp_path / "s.nc"))
    one = back.sel(t=1).get_variable("temp").df
    got = {(r.row, r.col): r.value for r in one.collect()}
    want = {(r, c): v for (vv, t, r, c), v in exp.items()
            if vv == "temp" and t == 1}
    assert got == want


def test_netcdf4_extent_and_t_guards(spark, tmp_path):
    """Loud extent guard, like the TIFF / classic-NetCDF sinks
    (code-review r5): out-of-extent rows and a 3-D table written
    times=None (duplicate chunk keys) both reject."""
    from pyspark.sql import functions as F

    df, _ = _cells(spark, ("v",), 1)
    bad = df.withColumn("row", F.col("row") + G.rows)
    with pytest.raises(Exception, match="outside file dimensions"):
        hdf5.write_netcdf4(bad, G, str(tmp_path / "b.nc"), times=[0.0])
    df3, _ = _cells(spark, ("v",), 2)
    with pytest.raises(Exception, match="outside file dimensions"):
        hdf5.write_netcdf4(df3, G, str(tmp_path / "c.nc"), times=None)


def test_netcdf4_null_cells_are_absent_rows(spark, tmp_path):
    """NULL-valued cells follow the absent-row nodata contract every
    sibling sink enforces (code-review r5 pass 2): they stay at the fill
    value instead of round-tripping as NaN rows (float64) or crashing
    the integer cast (int16)."""
    from dataclasses import replace

    g = replace(G, rows=8, cols=8, nodata=-9999.0)
    rows = [("v", 0, r, c, float(r * 8 + c + 1))
            for r in range(8) for c in range(8)]
    rows[0] = ("v", 0, 0, 0, None)  # NULL cell
    df = spark.createDataFrame(
        rows, "variable string, t long, row long, col long, value double"
    )
    for dtype in ("float64", "int16"):
        p = str(tmp_path / f"null_{dtype}.nc")
        hdf5.write_netcdf4(df, g, p, times=[0.0], dtype=dtype,
                           chunk=(4, 4))
        back, _, _ = SparkNetCDF.read_file(spark, p)
        got = {(r.row, r.col): r.value for r in back.df.collect()}
        assert (0, 0) not in got, dtype
        assert len(got) == 63 and got[(0, 1)] == 2.0, dtype


def test_fletcher32_matches_reference_loop():
    """hdf5._fletcher32 (vectorized) vs a straight transliteration of
    HDF5's H5_checksum_fletcher32 (360-word blocks + intermediate folds),
    across even/odd lengths, block boundaries, zeros, and the nonzero
    ≡ 0 mod 65535 case where the fold representative is 0xffff."""

    def ref(data):
        half = len(data) // 2
        i = s1 = s2 = 0
        while half:
            tlen = min(half, 360)
            half -= tlen
            for _ in range(tlen):
                s1 += (data[i] << 8) | data[i + 1]
                i += 2
                s2 += s1
            s1 = (s1 & 0xFFFF) + (s1 >> 16)
            s2 = (s2 & 0xFFFF) + (s2 >> 16)
        if len(data) & 1:
            s1 += data[-1] << 8
            s2 += s1
            s1 = (s1 & 0xFFFF) + (s1 >> 16)
            s2 = (s2 & 0xFFFF) + (s2 >> 16)
        s1 = (s1 & 0xFFFF) + (s1 >> 16)
        s2 = (s2 & 0xFFFF) + (s2 >> 16)
        return (s2 << 16) | s1

    rng = np.random.default_rng(7)
    for n in (0, 1, 2, 3, 719, 720, 721, 1447, 5000):
        b = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert hdf5._fletcher32(b) == ref(b), n
    assert hdf5._fletcher32(b"\x00" * 100) == ref(b"\x00" * 100) == 0
    assert hdf5._fletcher32(b"\xff\xff") == ref(b"\xff\xff")
    assert hdf5._fletcher32(b"\xff\xff\xff\xff") == ref(b"\xff\xff\xff\xff")


def test_netcdf4_fletcher32_roundtrip_and_corruption(spark, tmp_path):
    """fletcher32 as the LAST pipeline stage: round trips under
    shuffle+deflate and checksum-only; a flipped payload byte fails loudly
    on read instead of decoding garbage."""
    df, exp = _cells(spark, variables=("a",), nt=2)
    p = str(tmp_path / "fl.nc")
    hdf5.write_netcdf4(df, G, p, times=[0.0, 1.0], chunk=(8, 8),
                       fletcher32=True)
    back, _, _ = SparkNetCDF.read_file(spark, p)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp
    # checksum-only pipeline: stored chunk = raw payload + 4 bytes
    p2 = str(tmp_path / "fl2.nc")
    man2 = hdf5.write_netcdf4(df, G, p2, times=[0.0, 1.0], chunk=(8, 8),
                              compress=None, shuffle=False, fletcher32=True)
    assert set(man2.nbytes) == {8 * 7 * 8 + 4}  # (8, min(8, cols=7)) chunks
    back2, _, _ = SparkNetCDF.read_file(spark, p2)
    assert {(r.variable, r.t, r.row, r.col): r.value
            for r in back2.df.collect()} == exp
    raw = bytearray(open(p2, "rb").read())
    raw[int(man2.addr.iloc[0]) + 5] ^= 0xFF
    open(p2, "wb").write(bytes(raw))
    with pytest.raises(Exception, match="fletcher32 checksum mismatch"):
        SparkNetCDF.read_file(spark, p2)[0].df.collect()


def test_lookup3_reference_vectors():
    """Jenkins lookup3 pinned to lookup3.c's published self-test values
    (the checksum every HDF5 v2-era metadata structure carries)."""
    assert hdf5._lookup3(b"") == 0xDEADBEEF
    assert hdf5._lookup3(b"Four score and seven years ago", 0) == 0x17770551
    assert hdf5._lookup3(b"Four score and seven years ago", 1) == 0xCD628161


def test_netcdf4_fixed_array_roundtrip(spark, tmp_path):
    """index="fixed_array" writes the 1.10 'latest' layout: a v4 data
    layout message + FAHD/FADB chunk index (filtered client); readers
    recover every cell, and the layout parses as chunked4."""
    from dataclasses import replace

    g = replace(G, nodata=-9999.0)
    df, exp = _cells(spark)
    p = str(tmp_path / "fa.nc")
    SparkNetCDF(df).to_netcdf4(
        g, p, times=[10.0, 20.0, 30.0], dtype="int16", chunk=(4, 4),
        index="fixed_array",
    )
    blob = open(p, "rb").read()
    assert b"FAHD" in blob and b"FADB" in blob
    # every remaining TREE node is the type-0 GROUP B-tree — no v1 CHUNK
    # (type 1) trees in a fixed-array file
    i = -1
    while (i := blob.find(b"TREE", i + 1)) != -1:
        assert blob[i + 4] == 0
    h5 = hdf5._H5Meta(p)
    try:
        links = h5.group_links(h5.messages(h5.root))
        m = h5.dataset(links["precip"])
        assert m["layout"][0] == "chunked4" and m["layout"][1] == 3
        assert m["maxshape"] == m["shape"]  # fixed dims, per libhdf5 rules
        # FAHD checksum is the real lookup3 of the preceding bytes
        a = m["layout"][5]
        hdr = blob[a:a + 28]
        assert hdr[:4] == b"FAHD"
        (stored,) = struct.unpack_from("<I", hdr, 24)
        assert stored == hdf5._lookup3(hdr[:24])
    finally:
        h5.close()
    back, g2, meta = SparkNetCDF.read_file(spark, p)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp and meta["times"] == [10.0, 20.0, 30.0]


def test_netcdf4_fixed_array_paged_and_unfiltered(spark, tmp_path):
    """fa_page_bits=2 forces a PAGED fixed-array data block (bitmap +
    per-page checksums); compress=None+shuffle=False exercises the
    unfiltered client-0 element layout."""
    df, exp = _cells(spark, variables=("z",), nt=2)
    p = str(tmp_path / "fp.nc")
    hdf5.write_netcdf4(
        df, G, p, times=[1.0, 2.0], compress=None, shuffle=False,
        chunk=(4, 4), index="fixed_array", fa_page_bits=2,
    )
    # 2 t × 4 ci × 2 cj = 16 slots > 2^2 per page → paged block
    back, _, _ = SparkNetCDF.read_file(spark, p)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp


def test_v4_single_chunk_and_implicit_indexes(tmp_path):
    """Index types 1 (single chunk) and 2 (implicit) enumerate without
    touching the file; implicit slots advance in row-major chunk-size
    steps and filters reject."""
    h5 = object.__new__(hdf5._H5Meta)
    h5.fh = None  # these index types never read the index structures
    lay = ("chunked4", 1, 0x02, [8, 8], 8, 5000, {"fsize": 77, "fmask": 3})
    assert list(h5.iter_chunks_v4(lay, (8, 8), True)) == [
        ((0, 0), 5000, 77, 3)]
    lay = ("chunked4", 1, 0x00, [8, 8], 8, 5000, {})
    assert list(h5.iter_chunks_v4(lay, (8, 8), False)) == [
        ((0, 0), 5000, 8 * 8 * 8, 0)]
    lay = ("chunked4", 2, 0, [4, 4], 2, 1000, {})
    got = list(h5.iter_chunks_v4(lay, (5, 6), False))
    assert got == [((0, 0), 1000, 32, 0), ((0, 4), 1032, 32, 0),
                   ((4, 0), 1064, 32, 0), ((4, 4), 1096, 32, 0)]
    with pytest.raises(ValueError, match="implicit"):
        list(h5.iter_chunks_v4(lay, (5, 6), True))


def test_v2_btree_leaf_root_chunk_index(tmp_path):
    """Hand-built BTHD + BTLF (record type 10: address + SCALED offsets)
    — the leaf-root v2 B-tree 1.10 writes for > 1 unlimited dims; a
    depth-1 header whose root lacks the BTIN signature is corrupt."""
    rank, cdims = 2, [4, 4]
    rec_size = 8 + 8 * rank
    recs = [(2000, (0, 0)), (2128, (1, 2))]  # (addr, scaled offsets)
    leaf = b"BTLF" + bytes([0, 10]) + b"".join(
        struct.pack("<Q", a) + struct.pack("<2Q", *s) for a, s in recs)
    leaf += struct.pack("<I", hdf5._lookup3(leaf))
    root_addr = 200
    hdr = (b"BTHD" + bytes([0, 10])
           + struct.pack("<IHH", 512, rec_size, 0) + bytes([100, 40])
           + struct.pack("<QHQ", root_addr, len(recs), len(recs)))
    hdr += struct.pack("<I", hdf5._lookup3(hdr))
    p = tmp_path / "bt2.bin"
    blob = bytearray(1024)
    blob[100:100 + len(hdr)] = hdr
    blob[root_addr:root_addr + len(leaf)] = leaf
    p.write_bytes(bytes(blob))
    h5 = object.__new__(hdf5._H5Meta)
    h5.fh = open(p, "rb")
    try:
        lay = ("chunked4", 5, 0, cdims, 8, 100,
               {"node_size": 512, "split": 100, "merge": 40})
        got = list(h5.iter_chunks_v4(lay, (8, 12), False))
        assert got == [((0, 0), 2000, 128, 0), ((4, 8), 2128, 128, 0)]
        # depth 1 now walks internals — a root that is really a leaf
        # fails the BTIN signature check instead of misparsing
        hdr2 = (b"BTHD" + bytes([0, 10])
                + struct.pack("<IHH", 512, rec_size, 1) + bytes([100, 40])
                + struct.pack("<QHQ", root_addr, 2, 2))
        blob[100:100 + len(hdr2) + 4] = hdr2 + struct.pack(
            "<I", hdf5._lookup3(hdr2))
        p.write_bytes(bytes(blob))
        h5.fh.close()
        h5.fh = open(p, "rb")
        with pytest.raises(ValueError, match="internal-node signature"):
            list(h5.iter_chunks_v4(lay, (8, 12), False))
    finally:
        h5.fh.close()


def test_v4_dont_filter_partial_chunks_flag():
    """Layout flag bit 0 (H5D_CHUNK_DONT_FILTER_PARTIAL_CHUNKS): edge
    chunks yield an all-ones filter mask so _defilter leaves their raw
    bytes alone; interior chunks keep their stored mask."""
    h5 = hdf5._H5Meta.__new__(hdf5._H5Meta)
    h5.fh = None
    # single chunk larger than the dataspace = a partial edge chunk
    lay = ("chunked4", 1, 0x03, [8, 8], 8, 5000, {"fsize": 77, "fmask": 0})
    ((offs, addr, nb, mask),) = h5.iter_chunks_v4(lay, (5, 5), True)
    assert mask == 0xFFFFFFFF
    # flag clear → the stored mask rides through
    lay = ("chunked4", 1, 0x02, [8, 8], 8, 5000, {"fsize": 77, "fmask": 0})
    ((_, _, _, mask),) = h5.iter_chunks_v4(lay, (5, 5), True)
    assert mask == 0
    # unfiltered datasets never rewrite masks
    lay = ("chunked4", 2, 0x01, [4, 4], 2, 1000, {})
    got = list(h5.iter_chunks_v4(lay, (5, 6), False))
    assert all(m == 0 for _, _, _, m in got)


def test_netcdf4_zstd_filter_roundtrip(spark, tmp_path):
    """compress="zstd" writes the registered Zstandard filter (id 32015,
    the netCDF-4.9 compression) with a named v1 filter entry; chunks are
    real zstd frames, and the reader defilters them — composing with
    shuffle, fletcher32 and the fixed-array index."""
    import pyarrow as pa
    from dataclasses import replace

    g = replace(G, nodata=-9999.0)
    df, exp = _cells(spark)
    p = str(tmp_path / "z.nc")
    man = SparkNetCDF(df).to_netcdf4(
        g, p, times=[10.0, 20.0, 30.0], dtype="int16", chunk=(4, 4),
        compress="zstd:5", shuffle=True, fletcher32=True,
        index="fixed_array",
    )
    h5 = hdf5._H5Meta(p)
    try:
        links = h5.group_links(h5.messages(h5.root))
        m = h5.dataset(links["temp"])
        assert [f[0] for f in m["filters"]] == [2, 32015, 3]
        assert m["filters"][1][2] == [5]  # the level rides in cd_values
    finally:
        h5.close()
    # byte-level: one stored chunk defilters with plain pyarrow zstd
    # (dict access: `.nbytes` on a pandas row Series is its MEMORY size)
    r0 = man.iloc[0]
    blob = open(p, "rb").read()
    raw = blob[int(r0["addr"]):int(r0["addr"]) + int(r0["nbytes"])]
    body = raw[:-4]  # strip the fletcher32 word
    plain = pa.Codec("zstd").decompress(body, decompressed_size=4 * 4 * 2,
                                        asbytes=True)
    assert len(plain) == 32
    back, _, _ = SparkNetCDF.read_file(spark, p)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp
    # unshuffled zstd-only variant too
    p2 = str(tmp_path / "z2.nc")
    SparkNetCDF(df).to_netcdf4(g, p2, times=[10.0, 20.0, 30.0],
                               dtype="int16", chunk=(8, 8),
                               compress="zstd", shuffle=False)
    back, _, _ = SparkNetCDF.read_file(spark, p2)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp
    import pytest as _pytest

    with _pytest.raises(ValueError, match="zstd"):
        SparkNetCDF(df).to_netcdf4(g, str(tmp_path / "bad.nc"),
                                   times=[10.0], compress="lzma")


def test_netcdf4_zstd_guards():
    """compress-string typos reject loudly (no silent level default),
    and a deflate-before-zstd foreign stack rejects at plan time."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="zstd"):
        hdf5.write_netcdf4(None, None, "", [0.0], compress="zstd9")
    with _pytest.raises(ValueError, match="zstd"):
        hdf5.write_netcdf4(None, None, "", [0.0], compress="zstd:x")


def test_netcdf4_extensible_array_roundtrip(spark, tmp_path):
    """index="extensible" writes the 1.10 'latest' layout libhdf5 picks
    for exactly one unlimited dim (the netCDF time-series default): v4
    layout message (index type 4, the five H5Dearray creation params) +
    EAHD/EAIB/EADB; time keeps its UNLIMITED maxdim. With the real-file
    params (32,4,16,4,10) a 24-slot variable exercises the index-block
    elements AND two direct data blocks."""
    from dataclasses import replace

    g = replace(G, nodata=-9999.0)
    df, exp = _cells(spark)
    p = str(tmp_path / "ea.nc")
    SparkNetCDF(df).to_netcdf4(
        g, p, times=[10.0, 20.0, 30.0], dtype="int16", chunk=(4, 4),
        index="extensible",
    )
    blob = open(p, "rb").read()
    assert b"EAHD" in blob and b"EAIB" in blob and b"EADB" in blob
    h5 = hdf5._H5Meta(p)
    try:
        links = h5.group_links(h5.messages(h5.root))
        m = h5.dataset(links["precip"])
        assert m["layout"][0] == "chunked4" and m["layout"][1] == 4
        assert m["layout"][6] == {"max_bits": 32, "index_elems": 4,
                                  "min_ptrs": 4, "min_elems": 16,
                                  "page_bits": 10}
        assert m["maxshape"][0] == hdf5.UNDEF  # time stays unlimited
        assert m["maxshape"][1:] == m["shape"][1:]
        # EAHD checksum is the real lookup3 of the preceding bytes
        a = m["layout"][5]
        hdr = blob[a:a + 72]
        assert hdr[:4] == b"EAHD"
        (stored,) = struct.unpack_from("<I", hdr, 68)
        assert stored == hdf5._lookup3(hdr[:68])
        # header param order: min_ELMTS (16) precedes min_PTRS (4)
        assert hdr[9] == 16 and hdr[10] == 4
    finally:
        h5.close()
    back, g2, meta = SparkNetCDF.read_file(spark, p)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp and meta["times"] == [10.0, 20.0, 30.0]


def test_netcdf4_extensible_superblocks_and_paged(spark, tmp_path):
    """Shrunken ea_params force the full extensible-array geometry at
    60 chunks: index-block elements, direct data blocks, EASB super
    blocks, and PAGED data blocks (page-init bitmaps, per-page
    checksums). Also exercises the unfiltered client-0 elements."""
    nt = 60
    rows = [("z", t, r, c, float(t * 1000 + r * G.cols + c))
            for t in range(nt) for r in range(G.rows)
            for c in range(G.cols) if (r + c + t) % 3]
    df = spark.createDataFrame(
        rows, "variable string, t long, row long, col long, value double")
    exp = {(v, t, r, c): val for v, t, r, c, val in rows}
    p = str(tmp_path / "eap.nc")
    hdf5.write_netcdf4(
        df, G, p, times=[float(t) for t in range(nt)], compress=None,
        shuffle=False, chunk=(16, 16), index="extensible",
        ea_params=(10, 2, 2, 2, 2),
    )
    blob = open(p, "rb").read()
    assert b"EASB" in blob  # super blocks engaged
    back, _, _ = SparkNetCDF.read_file(spark, p)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp


def test_netcdf4_extensible_guards(spark, tmp_path):
    """2-D writes (no unlimited dim) reject index="extensible" — libhdf5
    never pairs this index with fixed dims."""
    df, _ = _cells(spark, variables=("z",), nt=1)
    with pytest.raises(ValueError, match="unlimited time"):
        hdf5.write_netcdf4(df, G, str(tmp_path / "x.nc"), times=None,
                           index="extensible")


def test_ea_slot_offs_swizzle():
    """Element index → chunk offsets with the unlimited dim swizzled to
    the front (H5VM_swizzle_coords): dims before it shift right, dims
    after stay. unlim=0 is plain row-major."""
    grid, cdims = [3, 4, 2], [1, 8, 16]
    # unlim = 0: row-major (t, y, x)
    assert hdf5._ea_slot_offs(0, grid, cdims, 0) == (0, 0, 0)
    assert hdf5._ea_slot_offs(1, grid, cdims, 0) == (0, 0, 16)
    assert hdf5._ea_slot_offs(2, grid, cdims, 0) == (0, 8, 0)
    assert hdf5._ea_slot_offs(9, grid, cdims, 0) == (1, 0, 16)
    # unlim = 1: swizzled order (y, t, x) — decompose over [4, 3, 2],
    # so consecutive indices advance x, then t, then y
    assert hdf5._ea_slot_offs(0, grid, cdims, 1) == (0, 0, 0)
    assert hdf5._ea_slot_offs(1, grid, cdims, 1) == (0, 0, 16)
    assert hdf5._ea_slot_offs(2, grid, cdims, 1) == (1, 0, 0)
    assert hdf5._ea_slot_offs(6, grid, cdims, 1) == (0, 8, 0)
    # unlim = 2: swizzled order (x, t, y) over [2, 3, 4]
    assert hdf5._ea_slot_offs(1, grid, cdims, 2) == (0, 8, 0)
    assert hdf5._ea_slot_offs(4, grid, cdims, 2) == (1, 0, 0)
    assert hdf5._ea_slot_offs(12, grid, cdims, 2) == (0, 0, 16)


def test_netcdf4_btree2_multilevel_roundtrip(spark, tmp_path):
    """index="btree2" with a small node size forces a MULTI-LEVEL v2
    B-tree (BTIN internal nodes with variable-width child-pointer
    fields); every cell survives the round trip and the header records
    depth >= 2."""
    from dataclasses import replace

    g = replace(G, nodata=-9999.0)
    df, exp = _cells(spark)
    p = str(tmp_path / "b2.nc")
    SparkNetCDF(df).to_netcdf4(
        g, p, times=[10.0, 20.0, 30.0], dtype="int16", chunk=(4, 4),
        index="btree2", b2_node_size=128,
    )
    blob = open(p, "rb").read()
    assert b"BTHD" in blob and b"BTIN" in blob and b"BTLF" in blob
    h5 = hdf5._H5Meta(p)
    try:
        m = h5.dataset(h5.group_links(h5.messages(h5.root))["precip"])
        assert m["layout"][0] == "chunked4" and m["layout"][1] == 5
        a = m["layout"][5]
        depth = struct.unpack_from("<H", blob, a + 12)[0]
        assert depth >= 2  # 24 records / 3-per-leaf forces internals
    finally:
        h5.close()
    back, _, _ = SparkNetCDF.read_file(spark, p)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp


def test_netcdf4_btree2_depth1_and_unfiltered(spark, tmp_path):
    """Depth-1 trees (leaf children of the root) and the unfiltered
    type-10 records both round-trip."""
    df, exp = _cells(spark, variables=("z",), nt=2)
    p = str(tmp_path / "b1.nc")
    hdf5.write_netcdf4(
        df, G, p, times=[1.0, 2.0], compress=None, shuffle=False,
        chunk=(4, 4), index="btree2", b2_node_size=256,
    )
    blob = open(p, "rb").read()
    assert b"BTIN" in blob
    back, _, _ = SparkNetCDF.read_file(spark, p)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp


def test_netcdf4_parallel_pwrite_roundtrip(spark, tmp_path):
    """Uncompressed chunks through the one tail: every stored size is the
    same, so the packed addresses are contiguous per variable. Shuffle +
    fletcher32 keep sizes fixed. ``parallel=True`` is still accepted and
    has no effect."""
    from dataclasses import replace

    g = replace(G, nodata=-9999.0)
    df, exp = _cells(spark)
    p = str(tmp_path / "par.nc")
    man = SparkNetCDF(df).to_netcdf4(
        g, p, times=[10.0, 20.0, 30.0], dtype="int16", compress=None,
        shuffle=True, fletcher32=True, chunk=(4, 4), index="fixed_array",
        parallel=True,
    )
    assert len(man) == 2 * 3 * 4 * 2  # vars × t × ceil(13/4) × ceil(7/4)
    stored = 4 * 4 * 2 + 4  # csize + fletcher suffix
    assert set(man["nbytes"]) == {stored}
    # addresses are the dense layout: contiguous per variable
    m0 = man[man["variable"] == "precip"].sort_values(["t", "ci", "cj"])
    a = m0["addr"].to_numpy()
    assert np.array_equal(np.diff(a), np.full(len(a) - 1, stored))
    back, g2, meta = SparkNetCDF.read_file(spark, p)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp and meta["times"] == [10.0, 20.0, 30.0]


def test_netcdf4_parallel_empty_slots_and_2d(spark, tmp_path):
    """A variable with data in two corner chunks leaves the other slots
    UNDEF in the index (readers see fill) and packs the two chunks back
    to back; the 2-D (times=None) shape works unfiltered."""
    rows = [("z", 0, 0, 0, 7.0), ("z", 0, 12, 6, 9.0)]
    df = spark.createDataFrame(
        rows, "variable string, t long, row long, col long, value double")
    p = str(tmp_path / "p2.nc")
    man = hdf5.write_netcdf4(
        df, G, p, times=None, compress=None, shuffle=False,
        chunk=(4, 4), index="fixed_array",
    )
    assert len(man) == 2  # only the two occupied slots ever write
    assert list(zip(man["ci"], man["cj"])) == [(0, 0), (3, 1)]
    assert man["addr"].iloc[1] == man["addr"].iloc[0] + 4 * 4 * 8
    back, _, _ = SparkNetCDF.read_file(spark, p)
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == {("z", 0, 0, 0): 7.0, ("z", 0, 12, 6): 9.0}


def test_netcdf4_parallel_guards(spark, tmp_path):
    """Out-of-range t fails loudly inside the distributed encode, raw or
    compressed, and leaves no scratch directory behind."""
    df, _ = _cells(spark, variables=("z",), nt=1)
    from pyspark.sql import functions as F

    bad = df.withColumn("t", F.lit(5).cast("long"))
    for name, kw in (("x.nc", dict(compress=None, index="fixed_array")),
                     ("y.nc", dict(compress=4))):
        p = str(tmp_path / name)
        with pytest.raises(Exception, match="outside file dimensions"):
            hdf5.write_netcdf4(bad, G, p, times=[0.0], **kw)
        assert not os.path.exists(p + "._chunks")


def _stream_netcdf4(cells_df, grid, path, **kw):
    """Driver-stream netCDF-4 writer, the byte-identity oracle of
    ``hdf5.write_netcdf4``: the same set-up (``hdf5._netcdf4_plan``), but
    the variable set is listed up front when not given, the encoded
    chunks stream through the driver in (variable, t, ci, cj) order and
    are appended from the first data address; the front matter and the
    chunk indexes are written last."""
    import inspect

    import pandas as pd

    args = inspect.signature(hdf5.write_netcdf4).bind(
        cells_df, grid, path, **kw)
    args.apply_defaults()
    opts = {k: v for k, v in args.arguments.items()
            if k not in ("cells_df", "path", "parallel")}
    key, encode_chunk, layout = hdf5._netcdf4_plan(**opts)
    variables = opts["variables"] or sorted(
        r[0] for r in cells_df.select("variable").distinct().collect())
    data_start, write_meta = layout(variables)
    keyed = key(cells_df.where("value IS NOT NULL"))

    def build_chunk(key, pdf):
        return pd.DataFrame({"variable": [str(key[0])], "tk": [int(key[1])],
                             "data": [encode_chunk(key, pdf)]})

    chunks = keyed.groupBy("variable", "tk").applyInPandas(
        build_chunk, "variable string, tk long, data binary",
    ).orderBy("variable", "tk")
    placed, cur = [], data_start
    with open(path, "wb") as fh:
        fh.seek(data_start)
        for r in chunks.toLocalIterator():
            fh.write(r.data)
            placed.append((r.variable, r.tk, cur, len(r.data)))
            cur += len(r.data)
        return write_meta(fh, pd.DataFrame(
            placed, columns=["variable", "tk", "addr", "nbytes"]))


def test_netcdf4_parallel_staged_byte_identical(spark, tmp_path):
    """The one tail (distributed encode+stage, driver metadata layout,
    distributed pwrite) writes a file BYTE-IDENTICAL to the driver-stream
    oracle, with the same manifest, across deflate / zstd+fletcher32 /
    uncompressed, all four index types and the 2-D shape."""
    df, exp = _cells(spark)
    d2 = df.where("t = 0")
    t3 = dict(times=[10.0, 20.0, 30.0])
    for i, (cells, kw) in enumerate([
        (df, dict(t3, compress=4, shuffle=True, index="btree1")),
        (df, dict(t3, compress="zstd:5", shuffle=False, fletcher32=True,
                  index="extensible")),
        (df, dict(t3, compress=None, shuffle=True, index="btree2")),
        (df, dict(t3, compress=4, shuffle=True, index="fixed_array")),
        (df, dict(t3, compress=None, shuffle=True, index="fixed_array")),
        (d2, dict(times=None, compress=4, shuffle=True, index="btree1")),
    ]):
        ps = str(tmp_path / f"s{i}.nc")
        pp = str(tmp_path / f"p{i}.nc")
        want = _stream_netcdf4(cells, G, ps, chunk=(4, 4), **kw)
        man = hdf5.write_netcdf4(cells, G, pp, chunk=(4, 4), **kw)
        with open(ps, "rb") as a, open(pp, "rb") as b:
            assert a.read() == b.read(), f"config {i} diverged"
        assert list(man.columns) == ["variable", "t", "ci", "cj",
                                     "addr", "nbytes"]
        assert man.equals(want)
        assert not os.path.exists(pp + "._chunks")  # scratch cleaned
    back, _, meta = SparkNetCDF.read_file(spark, str(tmp_path / "p4.nc"))
    got = {(r.variable, r.t, r.row, r.col): r.value
           for r in back.df.collect()}
    assert got == exp and meta["times"] == [10.0, 20.0, 30.0]


def test_netcdf4_write_job_audit(spark, tmp_path, build_jobs):
    """``write_netcdf4`` runs the encode job and the placement job (a
    range sort after the encode UDF would add a sampler job that encodes
    every chunk again); with ``variables=None`` the encode job observes
    the variable set, so no listing job runs."""
    df, _ = _cells(spark)
    kw = dict(times=[10.0, 20.0, 30.0], chunk=(4, 4))
    p = str(tmp_path / "j.nc")
    assert build_jobs(lambda: hdf5.write_netcdf4(
        df, G, p, variables=["precip", "temp"], **kw), "nc4-vars") == 3
    assert build_jobs(lambda: hdf5.write_netcdf4(df, G, p, **kw),
                      "nc4-novars") == 3


def test_hdf5_dense_attributes_and_links(tmp_path):
    """Hand-built 'latest'-format fixture for DENSE metadata storage —
    what libhdf5 1.8+ switches to past 8 attributes/links: an Attribute
    Info message (0x0015) / Link Info message (0x0002) pointing at a
    FRHP fractal heap (root DIRECT block, managed IDs) indexed by a
    type-8 / type-5 name v2 B-tree. The reader resolves every heap ID
    and parses the stored Attribute/Link messages."""
    def frhp(heap_id_len, dblock_addr, man_size):
        h = b"FRHP" + bytes([0])
        h += struct.pack("<HHB", heap_id_len, 0, 0)  # id len, filters, flags
        h += struct.pack("<I", 4096)                 # max managed obj size
        h += struct.pack("<QQ", 0, hdf5.UNDEF)       # huge next id / bt2
        h += struct.pack("<QQ", 0, hdf5.UNDEF)       # free space / fs mgr
        h += struct.pack("<QQQQ", man_size, man_size, man_size, 0)
        h += struct.pack("<QQQQ", 0, 0, 0, 0)        # huge/tiny sizes+counts
        h += struct.pack("<HQQ", 4, 512, 65536)      # width, start, max dir
        h += struct.pack("<HHQH", 32, 1, dblock_addr, 0)  # bits, srows,
        return hdf5._sum32(h)                        # root addr, CURR=0

    def heap_id(off, ln, idlen):
        hid = bytes([0]) + struct.pack("<I", off) + struct.pack("<H", ln)
        return hid + b"\x00" * (idlen - len(hid))

    def dblock(hdr_addr, objs):
        pre = b"FHDB" + bytes([0]) + struct.pack("<Q", hdr_addr)
        pre += struct.pack("<I", 0)  # block offset (4 bytes for 32 bits)
        ids = []
        buf = bytearray(pre)
        for o in objs:
            ids.append((len(buf), len(o)))
            buf += o
        return bytes(buf), ids

    def bt2_leaf_root(rtype, recs, addr):
        rec_size = len(recs[0])
        leaf = hdf5._sum32(b"BTLF" + bytes([0, rtype]) + b"".join(recs))
        hdr = b"BTHD" + bytes([0, rtype])
        hdr += struct.pack("<IHH", 512, rec_size, 0) + bytes([100, 40])
        hdr += struct.pack("<QHQ", addr + 38, len(recs), len(recs))
        return hdf5._sum32(hdr) + leaf

    def attr3(name, dtb, dsb, val):
        nb = name.encode() + b"\x00"
        return (struct.pack("<BBHHHB", 3, 0, len(nb), len(dtb), len(dsb), 0)
                + nb + dtb + dsb + val)

    # ---- dataset with 3 DENSE attributes --------------------------------
    vals = np.arange(6, dtype="<f8").reshape(2, 3)
    data_at = 2048
    attrs = [
        attr3("alpha", hdf5._dt_float(8), hdf5._ds_msg(()),
              struct.pack("<d", 2.5)),
        attr3("beta", hdf5._dt_fixed(np.dtype("<i4")), hdf5._ds_msg(()),
              struct.pack("<i", -7)),
        attr3("gamma", hdf5._dt_float(8), hdf5._ds_msg((2,)),
              struct.pack("<2d", 1.0, 4.0)),
    ]
    a_dblock_at = data_at + vals.nbytes
    a_db, a_ids = dblock(0, attrs)  # hdr addr unchecked by the reader
    a_frhp_at = a_dblock_at + len(a_db)
    a_frhp = frhp(8, a_dblock_at, len(a_db))
    a_bt2_at = a_frhp_at + len(a_frhp)
    a_recs = [heap_id(o, ln, 8) + bytes([0]) + struct.pack("<II", i, 0)
              for i, (o, ln) in enumerate(a_ids)]
    a_bt2 = bt2_leaf_root(8, a_recs, a_bt2_at)

    dset_at = a_bt2_at + len(a_bt2)
    attr_info = hdf5._msg(0x0015, struct.pack(
        "<BBQQ", 0, 0, a_frhp_at, a_bt2_at))
    dset = hdf5._ohdr_v1([
        hdf5._msg(0x0001, hdf5._ds_msg((2, 3))),
        hdf5._msg(0x0003, hdf5._dt_float(8)),
        hdf5._layout_contig(data_at, vals.nbytes),
        attr_info,
    ])

    # ---- root group with DENSE links ------------------------------------
    link = struct.pack("<BBB", 1, 0, 1) + b"d" + struct.pack("<Q", dset_at)
    l_dblock_at = dset_at + len(dset)
    l_db, l_ids = dblock(0, [link])
    l_frhp_at = l_dblock_at + len(l_db)
    l_frhp = frhp(7, l_dblock_at, len(l_db))
    l_bt2_at = l_frhp_at + len(l_frhp)
    # type-5 record: name hash (4) FIRST, then the 7-byte heap ID —
    # opposite field order to the type-8 attribute record below
    l_recs = [struct.pack("<I", 0) + heap_id(o, ln, 7) for o, ln in l_ids]
    l_bt2 = bt2_leaf_root(5, l_recs, l_bt2_at)
    root_at = l_bt2_at + len(l_bt2)
    link_info = hdf5._msg(0x0002, struct.pack(
        "<BBQQ", 0, 0, l_frhp_at, l_bt2_at))
    root = hdf5._ohdr_v1([link_info])
    eof = root_at + len(root)

    blob = bytearray(eof)
    blob[:96] = hdf5._superblock(eof, root_at, hdf5.UNDEF, hdf5.UNDEF)
    blob[data_at:data_at + vals.nbytes] = vals.tobytes()
    for at, b in ((a_dblock_at, a_db), (a_frhp_at, a_frhp),
                  (a_bt2_at, a_bt2), (dset_at, dset), (l_dblock_at, l_db),
                  (l_frhp_at, l_frhp), (l_bt2_at, l_bt2), (root_at, root)):
        blob[at:at + len(b)] = b
    p = tmp_path / "dense.h5"
    p.write_bytes(bytes(blob))

    h5 = hdf5._H5Meta(str(p))
    try:
        links = h5.group_links(h5.messages(h5.root))
        assert links == {"d": dset_at}
        meta = h5.dataset(dset_at)
        assert meta["attrs"]["alpha"] == 2.5
        assert meta["attrs"]["beta"] == -7
        assert list(np.asarray(meta["attrs"]["gamma"]).ravel()) == [1.0, 4.0]
        got = h5.read_array(meta)
        assert np.array_equal(got, vals)
    finally:
        h5.close()


def test_hdf5_fractal_heap_guards(tmp_path):
    """Indirect-root heaps and huge/tiny heap IDs reject loudly."""
    p = tmp_path / "fh.bin"

    def write_frhp(curr_rows):
        h = b"FRHP" + bytes([0])
        h += struct.pack("<HHB", 8, 0, 0) + struct.pack("<I", 4096)
        h += struct.pack("<QQ", 0, hdf5.UNDEF) + struct.pack("<QQ", 0, hdf5.UNDEF)
        h += struct.pack("<QQQQ", 64, 64, 64, 0)
        h += struct.pack("<QQQQ", 0, 0, 0, 0)
        h += struct.pack("<HQQ", 4, 512, 65536)
        h += struct.pack("<HHQH", 32, 1, 200, curr_rows)
        blob = bytearray(400)
        blob[0:len(h) + 4] = hdf5._sum32(h)
        blob[200:204] = b"FHDB"
        blob[204] = 0
        p.write_bytes(bytes(blob))

    h5 = object.__new__(hdf5._H5Meta)
    write_frhp(2)
    h5.fh = open(p, "rb")
    try:
        with pytest.raises(NotImplementedError, match="INDIRECT root"):
            h5._fractal_heap(0)
    finally:
        h5.fh.close()
    write_frhp(0)
    h5.fh = open(p, "rb")
    try:
        get = h5._fractal_heap(0)
        with pytest.raises(NotImplementedError, match="huge"):
            get(bytes([0x10]) + b"\x00" * 7)
        with pytest.raises(NotImplementedError, match="tiny"):
            get(bytes([0x20]) + b"\x00" * 7)
        with pytest.raises(ValueError, match="overruns"):
            get(bytes([0x00]) + struct.pack("<IH", 500, 40) + b"\x00")
    finally:
        h5.fh.close()


def test_netcdf4_declares_all_null_variable(spark, tmp_path):
    """write_netcdf4(variables=None) declares a variable whose every cell
    is null, as a variable with no chunks."""
    from pyspark.sql import functions as F

    df, _ = _cells(spark)
    cells = df.withColumn("value", F.when(F.col("variable") == "precip",
                                          F.col("value")))
    p = str(tmp_path / "n.nc")
    man = hdf5.write_netcdf4(cells, G, p, times=[10.0, 20.0, 30.0],
                             chunk=(4, 4))
    assert set(man["variable"]) == {"precip"}
    back, _, meta = hdf5.read_netcdf4(spark, p)
    assert sorted(meta["vars"]) == ["precip", "temp"]
    assert {r.variable for r in back.select("variable").distinct()
            .collect()} == {"precip"}
