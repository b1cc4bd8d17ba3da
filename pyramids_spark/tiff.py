"""Real tiled GeoTIFF I/O in pure struct + numpy — no GDAL/libtiff.

Reference surface: ``Dataset.to_file`` / ``to_cog`` / ``read_file``
(GDAL GTiff/COG drivers; COG path ``dataset/ops/cog.py:65-238``). Classic
TIFF 6.0, BigTIFF and the GeoTIFF tag set are PUBLIC specs; the tiled
case (raw or DEFLATE via stdlib zlib, any storage dtype from the shared
table ``pyramids_spark.dtypes`` — uint8…float64, the reference's GDAL
dtype table) is directly writable:

- header ``II*\\0`` (classic) or ``II+\\0 8 0`` (BigTIFF: 8-byte offsets,
  20-byte IFD entries, LONG8 offset arrays) + first-IFD offset;
- one IFD per (band, pyramid level): band 0 full-res first, then its
  overview IFDs (the COG-style embedded pyramid), then band 1, …;
- per IFD: tiled layout tags (TileWidth/Length/Offsets/ByteCounts),
  SampleFormat/BitsPerSample per the storage dtype, Compression
  none/DEFLATE, plus the GeoTIFF georeferencing tags (ModelPixelScale,
  ModelTiepoint, GeoKeyDirectory with the EPSG code) and GDAL's ASCII
  nodata tag;
- tile payloads: raw little-endian storage-dtype bytes, edge tiles padded
  with nodata, EVERY tile slot pointing at real bytes (absent tiles
  share one fill tile; no sparse offset-0 tiles — maximum reader
  compatibility).

Two write shapes:

1. **Single file** (``write_geotiff``): one tail, the same as the
   netCDF-4 sink's — one distributed job (groupBy level, band, tile +
   applyInPandas) encodes every occupied tile of every level and stages
   it as a file, ``toPandas`` collects the ``(key, nbytes)`` manifest
   with no ``orderBy``, the driver lays it out in (level, band, ti, tj)
   order (absent tiles share ONE fill tile) and writes the header, IFDs
   and offset/count arrays, and one distributed job ``pwrite``\\ s the
   staged tiles. Rasters past the classic 4 GiB cap auto-switch to
   BigTIFF. The target must be reachable from every executor.
2. **Sharded COG mosaic** (``write_cog_parts``): the scale path — the
   grid splits into aligned super-tile shards, one task per shard
   serializes a COMPLETE standalone COG (``serialize_geotiff``, the same
   tag machinery run locally over its dense block) and writes
   ``part-r{i}-c{j}.tif`` next to a JSON mosaic manifest. Executors write
   in parallel, no driver byte stream, no 4 GiB ceiling — a GDAL user
   reads the parts as a VRT-style mosaic; ``read_geotiff_parts`` re-opens
   the manifest and decodes every part distributed.

The single-file reader parses the IFD chain driver-side (KBs), then
ships the tile (offset, size) table to executors which re-open the file
and decode their tiles in ``mapInPandas`` — a distributed scan of one
file by byte range, the binaryFile-with-offsets pattern.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _blocks, _staged, dtypes as _dt, keys
from .grid import Grid

# TIFF tag ids
_W, _H = 256, 257
_BITS, _COMP, _PHOTO = 258, 259, 262
_SPP, _SFMT = 277, 339
_TW, _TH, _TOFF, _TCNT = 322, 323, 324, 325
_SOFF, _RPS, _SCNT = 273, 278, 279  # strip layout (read side only)
_PLANAR = 284  # PlanarConfiguration (read side: chunky=1 only)
_NEWSUBFILE = 254
_PIXSCALE, _TIEPOINT, _GEOKEYS = 33550, 33922, 34735
_GDAL_NODATA = 42113
_PREDICTOR = 317
_JPEGTABLES = 347  # abbreviated-stream DQT/DHT shared across tiles
_T_SHORT, _T_LONG, _T_DOUBLE, _T_ASCII = 3, 4, 12, 2
_T_LONG8 = 16  # BigTIFF


class _Variant:
    """Classic-vs-BigTIFF structural constants: entry/offset widths and
    the offset-array element type. Everything else in the tag machinery
    is shared."""

    def __init__(self, big: bool):
        self.big = big
        self.entry = 20 if big else 12
        self.entry_fmt = "<HHQQ" if big else "<HHII"
        self.off_fmt = "<Q" if big else "<I"
        self.off_len = 8 if big else 4
        self.count_fmt = "<Q" if big else "<H"
        self.count_len = 8 if big else 2
        self.arr_type = _T_LONG8 if big else _T_LONG
        self.inline = 8 if big else 4

    def header(self, first_ifd: int) -> bytes:
        if self.big:
            return struct.pack("<2sHHHQ", b"II", 43, 8, 0, first_ifd)
        return struct.pack("<2sHI", b"II", 42, first_ifd)

    @property
    def header_len(self) -> int:
        return 16 if self.big else 8

    def pack_tag(self, tag: int, typ: int, count: int, val: int) -> bytes:
        return struct.pack(self.entry_fmt, tag, typ, count, val)


class _Ifd:
    """One IFD's layout: tags + external arrays + its tile data extent."""

    def __init__(self, rows, cols, th, tw, is_overview: bool, itemsize: int = 8):
        self.rows, self.cols, self.th, self.tw = rows, cols, th, tw
        self.is_overview = is_overview
        self.nty, self.ntx = keys.n_tiles(rows, cols, th, tw)
        self.n_tiles = self.nty * self.ntx
        self.tile_bytes = th * tw * itemsize


def _geokeys(epsg: int) -> bytes:
    model = 2 if epsg == 4326 else 1  # geographic vs projected
    keys = [(1024, 0, 1, model), (1025, 0, 1, 1)]
    keys.append((2048 if model == 2 else 3072, 0, 1, epsg))
    out = struct.pack("<4H", 1, 1, 0, len(keys))
    for kk in keys:
        out += struct.pack("<4H", *kk)
    return out


def _nodata_ascii(nodata: "float | None", inline: int) -> bytes:
    s = (b"nan" if nodata is None else f"{nodata:g}".encode()) + b"\x00"
    if len(s) <= inline:  # force the external-array path: short ASCII
        s += b"\x00" * (inline + 1 - len(s))  # would inline in the value field
    return s


def _compress(data: bytes, compress) -> bytes:
    """Tile codec dispatch: None = raw, "lzw" = TIFF-LZW (Compression 5),
    int 1-9 = DEFLATE level (Compression 8)."""
    if compress is None:
        return data
    if compress == "lzw":
        from . import lzw

        return lzw.encode(data)
    import zlib

    return zlib.compress(data, compress)


def _packbits_decode(raw: bytes) -> bytes:
    """PackBits (Compression 32773, read-only) — the Apple RLE scheme TIFF
    6.0 §9 mandates every reader support: control byte n in 0..127 copies
    the next n+1 literals, n in -127..-1 (two's complement) repeats the
    next byte 1-n times, -128 is a no-op. The loop runs per run over one
    tile/strip payload executor-side, same budget as the LZW codec."""
    out = bytearray()
    i, end = 0, len(raw)
    while i < end:
        n = raw[i] - 256 if raw[i] > 127 else raw[i]
        i += 1
        if n >= 0:
            out += raw[i:i + n + 1]
            i += n + 1
        elif n != -128:
            out += raw[i:i + 1] * (1 - n)
            i += 1
    return bytes(out)


def _decompress(raw: bytes, comp: int, jpeg_tables: "bytes | None" = None) -> bytes:
    if comp == 1:
        return raw
    if comp == 5:
        from . import lzw

        return lzw.decode(raw)
    if comp in (6, 7):  # JPEG: a full JFIF stream per tile/strip (7), or
        # the old-style interchange stream rewritten to one strip (6)
        from . import jpeg as _jp

        if jpeg_tables and len(jpeg_tables) > 4:
            # abbreviated streams: splice the shared DQT/DHT (JPEGTables
            # is SOI..EOI; drop both markers) after the tile's SOI
            raw = raw[:2] + jpeg_tables[2:-2] + raw[2:]
        # pixels ARE the decompressed samples: uint8, chunky-interleaved
        # for RGB — exactly the byte layout the tile reshape expects
        return _jp.decode_jpeg(raw).tobytes()
    if comp == 32773:
        return _packbits_decode(raw)
    import zlib

    return zlib.decompress(raw)


def _jpeg6_stream(entropy: bytes, j6: dict, w: int, h: int,
                  spp: int) -> bytes:
    """Old-style JPEG (TIFF 6.0 Compression 6, the per-strip form):
    strips hold bare entropy-coded data while the tables live behind the
    JPEGQTables/JPEGDCTables/JPEGACTables tag offsets — synthesize the
    SOI/DQT/DHT/[DRI]/SOF0/SOS prelude so the in-repo T.81 decoder reads
    it like any baseline stream. Reference: GDAL's libtiff
    OJPEG codec path behind ``/root/reference/src/pyramids/dataset.py``
    ``read_file``."""
    out = bytearray(b"\xff\xd8")
    for i in range(spp):
        q = j6["q"][min(i, len(j6["q"]) - 1)]
        out += b"\xff\xdb" + struct.pack(">H", 3 + 64) + bytes([i]) + q
        for cls, key in ((0, "dc"), (1, "ac")):
            t = j6[key][min(i, len(j6[key]) - 1)]
            out += b"\xff\xc4" + struct.pack(">H", 3 + len(t)) \
                + bytes([(cls << 4) | i]) + t
    if j6.get("ri"):
        out += b"\xff\xdd" + struct.pack(">HH", 4, int(j6["ri"]))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([spp])
    for i in range(spp):
        sof += bytes([i, 0x11, i])  # 1x1 sampling; Tq = component index
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    sos = bytes([spp])
    for i in range(spp):
        sos += bytes([i, (i << 4) | i])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += entropy
    if not entropy.endswith(b"\xff\xd9"):
        out += b"\xff\xd9"
    return bytes(out)


def _comp_tag(compress) -> int:
    return 1 if compress is None else (5 if compress == "lzw" else 8)


def _unpredict2(block: "np.ndarray", spp: int = 1) -> "np.ndarray":
    """Inverse of TIFF Predictor 2 (horizontal differencing): running sum
    along each row, modulo the sample width (integer samples only). With
    chunky interleaved samples (``spp`` > 1) the spec differences each
    sample lane separately — cumsum runs per pixel column, stride spp."""
    u = block.view(f"<u{block.dtype.itemsize}") if block.dtype.kind == "i" \
        else block
    if spp > 1:
        h = u.shape[0]
        u3 = u.reshape(h, -1, spp)
        c = np.cumsum(u3, axis=1, dtype=np.uint64).astype(u.dtype)
        return c.reshape(h, -1).view(block.dtype)
    c = np.cumsum(u, axis=1, dtype=np.uint64).astype(u.dtype)
    return c.view(block.dtype)


def _predict2(block: "np.ndarray") -> "np.ndarray":
    """TIFF Predictor 2 forward transform: per-row horizontal differencing
    in the sample's unsigned view — the exact inverse of ``_unpredict2``.
    Smooth rasters difference into near-zero runs, which is what makes
    LZW/DEFLATE earn their keep on continental exports."""
    u = block.view(f"<u{block.dtype.itemsize}") if block.dtype.kind == "i" \
        else block
    d = u.copy()
    d[:, 1:] -= u[:, :-1]
    return d.view(block.dtype)


def _unpredict3(rows_u8: "np.ndarray", esize: int, spp: int = 1,
                ) -> "np.ndarray":
    """Inverse of TIFF Predictor 3 (TechNote 3 floating-point horizontal
    differencing): per row, byte deltas accumulate with stride ``spp``,
    then the byte-planarized layout (all MSBs first, then the next byte,
    …) reassembles into big-endian words. ``rows_u8`` is (nrows,
    rowbytes) uint8; returns the raw big-endian word bytes per row."""
    h, rb = rows_u8.shape
    if spp > 1:
        c = np.cumsum(rows_u8.reshape(h, -1, spp), axis=1,
                      dtype=np.uint64).astype(np.uint8).reshape(h, rb)
    else:
        c = np.cumsum(rows_u8, axis=1, dtype=np.uint64).astype(np.uint8)
    # deplanarize: plane k of each row holds byte k (MSB-first) of every
    # word → (h, esize, wc) transposed to word order = big-endian bytes
    return np.ascontiguousarray(
        c.reshape(h, esize, rb // esize).transpose(0, 2, 1)
    ).reshape(h, rb)


def _predict3(arr: "np.ndarray", spp: int = 1) -> bytes:
    """TIFF Predictor 3 forward transform: big-endian bytes of each row,
    byte-planarized MSB-first, then horizontal byte differencing with
    stride ``spp`` — the exact inverse of :func:`_unpredict3`."""
    esize = arr.dtype.itemsize
    be = arr.astype(arr.dtype.newbyteorder(">"))
    h = arr.shape[0]
    rows = np.frombuffer(be.tobytes(order="C"), np.uint8).reshape(h, -1)
    planes = rows.reshape(h, -1, esize).transpose(0, 2, 1)
    flat = np.ascontiguousarray(planes).reshape(h, -1).copy()
    flat[:, spp:] -= np.ascontiguousarray(planes).reshape(h, -1)[:, :-spp]
    return flat.tobytes()


def _check_predictor(predictor: int, dt_name: str) -> None:
    if predictor not in (1, 2, 3):
        raise ValueError(f"predictor must be 1, 2 or 3, got {predictor}")
    if predictor == 2 and _dt.is_float(dt_name):
        raise NotImplementedError(
            "Predictor 2 (horizontal differencing) is integer-only; use "
            "the floating-point predictor (3) for float samples"
        )
    if predictor == 3 and not _dt.is_float(dt_name):
        raise NotImplementedError(
            "Predictor 3 (floating-point differencing) needs float samples"
        )


def _encode_tile(arr: "np.ndarray", compress, predictor: int) -> bytes:
    """Storage-dtype tile block → on-disk bytes (predictor, then codec)."""
    if predictor == 2:
        arr = _predict2(arr)
    elif predictor == 3:
        return _compress(_predict3(arr), compress)
    return _compress(arr.tobytes(order="C"), compress)


def _ifd_tag_count(is_overview: bool, predictor: int) -> int:
    """The ONE place that knows how many tags an IFD carries — layout
    sizing and the tag emitter both use it (a mismatch would shift every
    external-array offset), and the emitter asserts against it."""
    return 15 + (1 if is_overview else 0) + (1 if predictor != 1 else 0)


def _layout(
    ifds: "list[_Ifd]", nod_len: int, v: _Variant, predictor: int = 1,
) -> "tuple[list[int], int]":
    """Assign every IFD's header/array positions; return (ifd positions,
    data start). Layout: [header][IFD + external arrays]*[tile data]."""
    pos = v.header_len
    ifd_pos: list[int] = []
    for f_ in ifds:
        n_tags = _ifd_tag_count(f_.is_overview, predictor)
        ifd_pos.append(pos)
        pos += v.count_len + n_tags * v.entry + v.off_len
        ext = 0
        f_.off_arr_at = pos + ext
        ext += v.off_len * f_.n_tiles if f_.n_tiles > 1 else 0
        f_.cnt_arr_at = pos + ext
        ext += v.off_len * f_.n_tiles if f_.n_tiles > 1 else 0
        f_.scale_at = pos + ext
        ext += 3 * 8
        f_.tie_at = pos + ext
        ext += 6 * 8
        f_.geo_at = pos + ext
        ext += 4 * 2 * 4  # header + 3 keys, SHORTs
        f_.nod_at = pos + ext
        ext += nod_len + (nod_len % 2)
        pos += ext
    return ifd_pos, pos + (pos % 2)


def _write_ifd_headers(
    fh, ifds, ifd_pos, per_level_grids, n_levels, v: _Variant,
    bits, sfmt, compress, nod_ascii, predictor: int = 1,
):
    """Emit every IFD's tag block + georeferencing arrays; record where
    the offset/count fields live for patching once the layout is known."""
    for k, f_ in enumerate(ifds):
        li = k % n_levels
        g = per_level_grids[li]
        tags = []
        if f_.is_overview:
            tags.append((_NEWSUBFILE, _T_LONG, 1, 1))  # reduced-resolution
        tags += [
            (_W, _T_LONG, 1, f_.cols),
            (_H, _T_LONG, 1, f_.rows),
            (_BITS, _T_SHORT, 1, bits),
            (_COMP, _T_SHORT, 1, _comp_tag(compress)),
            (_PHOTO, _T_SHORT, 1, 1),
            (_SPP, _T_SHORT, 1, 1),
            (_TW, _T_SHORT, 1, f_.tw),
            (_TH, _T_SHORT, 1, f_.th),
            # value 0 for single-tile IFDs: the real offset/count is
            # patched into the tag's value field once laid out
            (_TOFF, v.arr_type, f_.n_tiles,
             0 if f_.n_tiles == 1 else f_.off_arr_at),
            (_TCNT, v.arr_type, f_.n_tiles,
             0 if f_.n_tiles == 1 else f_.cnt_arr_at),
            (_SFMT, _T_SHORT, 1, sfmt),
            (_PIXSCALE, _T_DOUBLE, 3, f_.scale_at),
            (_TIEPOINT, _T_DOUBLE, 6, f_.tie_at),
            (_GEOKEYS, _T_SHORT, 16, f_.geo_at),  # 4-SHORT header + 3 keys
            (_GDAL_NODATA, _T_ASCII, len(nod_ascii), f_.nod_at),
        ]
        if predictor != 1:
            tags.append((_PREDICTOR, _T_SHORT, 1, predictor))
        assert len(tags) == _ifd_tag_count(f_.is_overview, predictor)
        tags.sort(key=lambda t: t[0])
        fh.seek(ifd_pos[k])
        fh.write(struct.pack(v.count_fmt, len(tags)))
        for idx, t in enumerate(tags):
            at = ifd_pos[k] + v.count_len + idx * v.entry + (12 if v.big else 8)
            if t[0] == _TOFF:
                f_.toff_val_pos = at
            if t[0] == _TCNT:
                f_.tcnt_val_pos = at
            fh.write(v.pack_tag(*t))
        nxt = ifd_pos[k + 1] if k + 1 < len(ifds) else 0
        fh.write(struct.pack(v.off_fmt, nxt))
        f_.offs, f_.cnts = [], []
        fh.seek(f_.scale_at)
        fh.write(struct.pack("<3d", g.cell, g.cell, 0.0))
        fh.seek(f_.tie_at)
        fh.write(struct.pack("<6d", 0.0, 0.0, 0.0, g.x0, g.y0, 0.0))
        fh.seek(f_.geo_at)
        fh.write(_geokeys(g.epsg))
        fh.seek(f_.nod_at)
        fh.write(nod_ascii)


def _patch_arrays(fh, ifds, v: _Variant):
    for f_ in ifds:
        if f_.n_tiles > 1:
            fh.seek(f_.off_arr_at)
            fh.write(struct.pack(f"{v.off_fmt[0]}{f_.n_tiles}{v.off_fmt[1]}",
                                 *f_.offs))
            fh.seek(f_.cnt_arr_at)
            fh.write(struct.pack(f"{v.off_fmt[0]}{f_.n_tiles}{v.off_fmt[1]}",
                                 *f_.cnts))
        else:
            fh.seek(f_.toff_val_pos)
            fh.write(struct.pack(v.off_fmt, f_.offs[0]))
            fh.seek(f_.tcnt_val_pos)
            fh.write(struct.pack(v.off_fmt, f_.cnts[0]))


def write_geotiff(
    per_level: "list[tuple[DataFrame, Grid]]",
    path: str,
    tile: tuple[int, int] = (256, 256),
    compress: "int | None" = None,
    dtype: str = "float64",
    bigtiff: "bool | None" = None,
    predictor: int = 1,
) -> int:
    """Write bands × pyramid levels as one tiled GeoTIFF. ``per_level`` is
    [(cells_df, grid)] — full resolution first, then each overview (all
    levels carry every band). ``compress`` = DEFLATE level 1-9
    (Compression=8, stdlib zlib) or None for raw tiles. ``dtype`` is the
    STORAGE dtype (the reference's GDAL dtype table,
    ``pyramids_spark.dtypes``) — cells stay float64 in the engine; integer
    stores require a representable nodata and integral in-range values
    (loud guards). ``bigtiff`` True/False forces the variant; None
    auto-switches to BigTIFF past the classic 4 GiB cap (GDAL's
    BIGTIFF=IF_NEEDED). One tail writes the file, the same shape as the
    netCDF-4 sink (``hdf5.py``): (1) one distributed job encodes every
    occupied tile of every level and stages it as one file under
    ``<path>._tiles/``, returning only ``(level, band, tile, nbytes)``,
    and observes the band count ``max(band) + 1`` (before the null
    filter, so an all-null band is still declared; an empty input
    declares one band); (2) the driver builds the IFDs from that count,
    lays the manifest out in (level, band, ti, tj) order, pointing every
    ABSENT slot at ONE shared fill tile (legal TIFF; a sparse raster
    stores one fill tile, not one per slot), and writes header + IFDs +
    offset/count arrays; (3) one distributed job ``pwrite``\\ s the
    staged bytes. No driver byte stream, and the same filesystem model
    as every pwrite sink: the target must be reachable from all
    executors. Returns total bytes written."""
    th, tw = int(tile[0]), int(tile[1])
    grids = [g for _, g in per_level]
    n_levels = len(grids)
    nodata = grids[0].nodata
    dt_name = _dt.resolve(dtype)
    np_dt, bits, sfmt = (
        _dt.np_dtype(dt_name), _dt.TABLE[dt_name][1], _dt.TABLE[dt_name][2]
    )
    _check_predictor(predictor, dt_name)
    fill = _dt.check_fill(dt_name, nodata)

    def ifds_of(n_bands: int) -> "list[_Ifd]":
        return [_Ifd(g.rows, g.cols, th, tw, is_overview=li > 0,
                     itemsize=np_dt.itemsize)
                for _ in range(n_bands) for li, g in enumerate(grids)]

    def classic_fits(ifds: "list[_Ifd]") -> bool:
        """Whether classic TIFF holds the raster in the worst case; raises
        when it does not and ``bigtiff`` is False."""
        v = _Variant(False)
        _, ds = _layout(ifds, len(_nodata_ascii(nodata, v.inline)), v,
                        predictor)
        b = ds + sum(f_.n_tiles * f_.tile_bytes for f_ in ifds)
        if compress == "lzw":  # LZW worst case is 12-bit codes per byte
            b = int(b * 1.51) + 4096
        elif compress is not None:  # deflate worst case adds <0.1% on raw
            b = int(b * 1.01) + 4096
        if bigtiff is False and b > 2**32 - 1:
            raise ValueError(
                f"raster needs up to {b} bytes — classic TIFF caps at 4 GiB; "
                "pass bigtiff=True (or leave bigtiff=None to auto-switch)"
            )
        return b <= 2**32 - 1

    # checked before the encode with one band, the fewest any input
    # declares, so a raster past the cap fails before it is encoded
    classic_fits(ifds_of(1))
    scratch = path + "._tiles"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)

    def tile_file(li: int, b: int, tk: int) -> str:
        return os.path.join(scratch, f"{li}_{b}_{tk}")

    def stage(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        li, bb, tk = (int(k) for k in key)
        g = grids[li]
        if bb < 0:
            raise ValueError(
                f"tile block outside the declared layout at level {li}: "
                f"band={bb}")
        # out-of-extent cells would wrap via fancy indexing (negative) or
        # land in another tile's slot (beyond the grid) — fail loudly
        keys.check_extent(pdf["row"].to_numpy(), pdf["col"].to_numpy(),
                          g.rows, g.cols)
        r0, c0 = keys.tile_window(tk, th, tw, g.rows, g.cols)[2:4]
        block = _blocks.dense_block(pdf, th, tw, r0, c0, fill)
        data = _encode_tile(_dt.cast_block(block, dt_name), compress,
                            predictor)
        _staged.write_staged(tile_file(li, bb, tk), data)
        return pd.DataFrame({"level": [li], "band": [bb], "tk": [tk],
                             "nbytes": [len(data)]})

    # every level in ONE encode job: the levels' keyed cells union under
    # a level column
    keyed = functools.reduce(DataFrame.unionByName, [
        cdf.select(
            F.lit(li).cast("long").alias("level"), "band", "row", "col",
            "value", keys.tile_key("row", "col", th, tw, keys.n_tiles(
                g.rows, g.cols, th, tw)[1]).alias("_tk"))
        for li, (cdf, g) in enumerate(per_level)])
    try:
        man, seen = _staged.encode(
            keyed, lambda d: d, ["level", "band", "_tk"], stage,
            "level long, band long, tk long, nbytes long",
            {"m": F.max("band")})
        n_bands = int(seen["m"]) + 1 if seen["m"] is not None else 1
        ifds = ifds_of(n_bands)
        fits = classic_fits(ifds)
        v = _Variant(not fits if bigtiff is None else bool(bigtiff))
        nod_ascii = _nodata_ascii(nodata, v.inline)
        ifd_pos, data_start = _layout(ifds, len(nod_ascii), v, predictor)
        # ---- driver: slots in (level, band, ti, tj) file order -----------
        per_band = [ifds[li].n_tiles for li in range(n_levels)]  # tiles
        first = np.cumsum([0] + [n_bands * n for n in per_band])
        sizes = np.full(first[-1], -1, np.int64)
        lv = man["level"].to_numpy(np.int64)
        slot = (first[lv] + man["band"].to_numpy(np.int64)
                * np.asarray(per_band, np.int64)[lv]
                + man["tk"].to_numpy(np.int64))
        sizes[slot] = man["nbytes"].to_numpy(np.int64)
        present = sizes >= 0
        # empties share ONE fill tile, encoded only if some slot is absent
        fill_tile = b"" if present.all() else _encode_tile(
            _dt.cast_block(np.full((th, tw), fill, dtype="<f8"), dt_name),
            compress, predictor,
        )
        nb = np.where(present, sizes, 0)
        at = data_start + len(fill_tile) + np.cumsum(nb) - nb
        offs = np.where(present, at, data_start).tolist()
        cnts = np.where(present, sizes, len(fill_tile)).tolist()
        cur = data_start + len(fill_tile) + int(nb.sum())
        with open(path, "wb") as fh:
            fh.write(v.header(ifd_pos[0]))
            # header write comes FIRST (it resets f_.offs/f_.cnts)
            _write_ifd_headers(
                fh, ifds, ifd_pos, grids, n_levels, v,
                bits, sfmt, compress, nod_ascii, predictor,
            )
            for li in range(n_levels):
                for b in range(n_bands):
                    f_ = ifds[b * n_levels + li]
                    s0 = first[li] + b * per_band[li]
                    f_.offs = offs[s0:s0 + per_band[li]]
                    f_.cnts = cnts[s0:s0 + per_band[li]]
            if fill_tile:
                fh.seek(data_start)
                fh.write(fill_tile)
            _patch_arrays(fh, ifds, v)
            fh.truncate(cur)

        # ---- distributed pwrite of the staged tiles ------------------------
        _staged.copy_staged(
            keyed.sparkSession, path,
            [(tile_file(li, b, tk), a, n) for li, b, tk, a, n in zip(
                man["level"].tolist(), man["band"].tolist(),
                man["tk"].tolist(), at[slot].tolist(),
                man["nbytes"].tolist())],
            "tiles")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return cur


def serialize_geotiff(
    arrs: "list[np.ndarray]",
    grids: "list[Grid]",
    tile: tuple[int, int] = (256, 256),
    compress: "int | None" = None,
    dtype: str = "float64",
    bigtiff: bool = False,
    predictor: int = 1,
) -> bytes:
    """Serialize dense ``(bands, rows, cols)`` float64 arrays (one per
    pyramid level, full-res first) into a complete in-memory GeoTIFF —
    the same tag machinery as :func:`write_geotiff` run locally. This is
    the per-shard kernel of :func:`write_cog_parts`; NaN cells become the
    grid nodata fill."""
    th, tw = int(tile[0]), int(tile[1])
    n_bands = arrs[0].shape[0]
    base_grid = grids[0]
    dt_name = _dt.resolve(dtype)
    np_dt, bits, sfmt = (
        _dt.np_dtype(dt_name), _dt.TABLE[dt_name][1], _dt.TABLE[dt_name][2]
    )
    _check_predictor(predictor, dt_name)
    fill = _dt.check_fill(dt_name, base_grid.nodata)
    v = _Variant(bool(bigtiff))
    ifds: list[_Ifd] = []
    for b in range(n_bands):
        for li, g in enumerate(grids):
            ifds.append(
                _Ifd(g.rows, g.cols, th, tw, is_overview=li > 0,
                     itemsize=np_dt.itemsize)
            )
    nod_ascii = _nodata_ascii(base_grid.nodata, v.inline)
    ifd_pos, data_start = _layout(ifds, len(nod_ascii), v, predictor)

    import io

    fh = io.BytesIO()
    fh.write(v.header(ifd_pos[0]))
    _write_ifd_headers(
        fh, ifds, ifd_pos, grids, len(grids), v, bits, sfmt, compress,
        nod_ascii, predictor,
    )
    cur = data_start
    for b in range(n_bands):
        for li, g in enumerate(grids):
            f_ = ifds[b * len(grids) + li]
            arr = arrs[li][b]
            for t in range(f_.n_tiles):
                ti, tj = t // f_.ntx, t % f_.ntx
                block = np.full((th, tw), fill, dtype="<f8")
                seg = arr[ti * th:(ti + 1) * th, tj * tw:(tj + 1) * tw]
                block[: seg.shape[0], : seg.shape[1]] = seg
                block[np.isnan(block)] = fill
                data = _encode_tile(
                    _dt.cast_block(block, dt_name), compress, predictor
                )
                fh.seek(cur)
                fh.write(data)
                f_.offs.append(cur)
                f_.cnts.append(len(data))
                cur += len(data)
    _patch_arrays(fh, ifds, v)
    fh.truncate(cur)
    return fh.getvalue()


def write_cog_parts(
    cells_df: DataFrame,
    grid: Grid,
    n_bands: int,
    out_dir: str,
    shard: tuple[int, int] = (4096, 4096),
    tile: tuple[int, int] = (256, 256),
    levels: tuple[int, ...] = (),
    compress: "int | None" = None,
    dtype: str = "float64",
    predictor: int = 1,
) -> pd.DataFrame:
    """The PARALLEL GeoTIFF sink: split the raster into aligned
    ``shard``-cell super-tiles and write one complete standalone COG per
    shard (``part-r{i}-c{j}.tif``) plus a ``mosaic.json`` manifest —
    every executor serializes and writes its own shard, no driver byte
    stream, no 4 GiB ceiling (reference COG export
    ``dataset/ops/cog.py:65-238``; the part set is the GDAL-VRT mosaic
    shape). Overview ``levels`` must divide the shard dims so per-shard
    averaging equals global averaging. Returns the part manifest
    ``(pi, pj, rows, cols, n_cells, n_bytes, file)``."""
    sh, sw = int(shard[0]), int(shard[1])
    for lv in levels:
        if sh % lv or sw % lv:
            raise ValueError(
                f"overview level {lv} must divide shard dims {sh}x{sw} so "
                "shard-local averaging equals global averaging"
            )
    dt_name = _dt.resolve(dtype)
    fill = _dt.check_fill(dt_name, grid.nodata)
    rows, cols = grid.rows, grid.cols
    os.makedirs(out_dir, exist_ok=True)
    npi, npj = keys.n_tiles(rows, cols, sh, sw)
    manifest_meta = {
        "x0": grid.x0, "y0": grid.y0, "cell": grid.cell, "rows": rows,
        "cols": cols, "epsg": grid.epsg, "nodata": grid.nodata,
        "shard": [sh, sw], "parts": [npi, npj], "n_bands": n_bands,
        "levels": list(levels), "dtype": dt_name,
    }

    lvls = list(levels)

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pi, pj, r0, c0, prows, pcols = keys.tile_window(key[0], sh, sw, rows, cols)
        pdf = pdf[pdf["value"].notna()]
        n_cells = len(pdf)
        if n_cells:
            rr, cc = keys.unpack_rc_np(pdf["rc"].to_numpy(np.int64))
            bb = pdf["band"].to_numpy(np.int64)
            msg = f"cell outside grid extent ({n_bands} bands, {rows}x{cols})"
            keys.check_extent(rr, cc, rows, cols, msg)
            if bb.min() < 0 or bb.max() >= n_bands:
                raise ValueError(msg)
        dense = np.full((n_bands, prows, pcols), np.nan, dtype="<f8")
        if n_cells:
            dense[bb, rr - r0, cc - c0] = pdf["value"].to_numpy(np.float64)
        pgrid = Grid(
            x0=grid.x0 + c0 * grid.cell, y0=grid.y0 - r0 * grid.cell,
            cell=grid.cell, rows=prows, cols=pcols, epsg=grid.epsg,
            nodata=grid.nodata,
        )
        arrs, grids = [dense], [pgrid]
        for lv in lvls:
            orow, ocol = keys.n_tiles(prows, pcols, lv, lv)
            ov = np.full((n_bands, orow, ocol), np.nan, dtype="<f8")
            for b in range(n_bands):
                pad = np.full((orow * lv, ocol * lv), np.nan)
                pad[:prows, :pcols] = dense[b]
                with np.errstate(invalid="ignore"):
                    ov[b] = np.nanmean(
                        pad.reshape(orow, lv, ocol, lv).swapaxes(1, 2)
                        .reshape(orow, ocol, lv * lv),
                        axis=2,
                    )
            if not _dt.is_float(dt_name):
                # HALF_UP (away from zero), matching to_cog's F.round so
                # both sinks produce identical overview pixels at .5 ties
                # (np.round is banker's — code-review r5 finding)
                with np.errstate(invalid="ignore"):
                    ov = np.where(
                        np.isnan(ov), np.nan,
                        np.where(ov >= 0, np.floor(ov + 0.5),
                                 np.ceil(ov - 0.5)),
                    )
            arrs.append(ov)
            grids.append(
                Grid(x0=pgrid.x0, y0=pgrid.y0, cell=grid.cell * lv,
                     rows=orow, cols=ocol, epsg=grid.epsg,
                     nodata=grid.nodata)
            )
        data = serialize_geotiff(arrs, grids, tile, compress, dt_name,
                                 predictor=predictor)
        name = f"part-r{pi}-c{pj}.tif"
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        return pd.DataFrame(
            {"pi": [pi], "pj": [pj], "rows": [prows], "cols": [pcols],
             "n_cells": [len(pdf)], "n_bytes": [len(data)], "file": [name]}
        )

    spark = cells_df.sparkSession
    # packed shuffle keys (guide §2.3, keys.py): the cell key rc and the
    # dense part key _pid replace four longs. One placeholder row per part
    # id (unioned, not joined: no second exchange) gives empty parts a
    # file; cells whose _pid names no part (row < 0, say) form their own
    # group, and the build tasks decode rc exactly, so the extent guard
    # sees every cell
    # placeholder key columns are non-null: a null in the long rc column
    # would make Arrow hand every part's rc to pandas as float64, which
    # rounds rc past 2⁵³ (row ≥ 2²¹) onto a neighbouring cell
    parts = spark.range(npi * npj).select(
        F.col("id").alias("_pid"),
        F.lit(0).cast("long").alias("band"),
        F.lit(0).cast("long").alias("rc"),
        F.lit(None).cast("double").alias("value"),
    )
    manifest, _ = _staged.encode(
        cells_df, lambda d: d.select(
            "band",
            keys.pack_rc("row", "col").alias("rc"),
            "value",
            keys.tile_key("row", "col", sh, sw, npj).alias("_pid"),
        ).unionByName(parts),
        ["_pid"], build,
        "pi long, pj long, rows long, cols long, n_cells long, "
        "n_bytes long, file string")
    manifest = manifest.sort_values(["pi", "pj"], ignore_index=True)
    with open(os.path.join(out_dir, "mosaic.json"), "w") as f:
        json.dump(manifest_meta, f)
    return manifest


def _decode_ifd_tiles(fh, d: dict) -> "list[tuple[int, np.ndarray]]":
    """Decode every tile of one parsed IFD dict → [(tile index, float64
    block)] — the local (non-Spark) twin of the read_geotiff decode."""
    np_dt = str(_dt.np_dtype(d["dtype"]).str)
    if d.get("jpeg6"):
        # COG parts are always written by this module (never comp 6);
        # a per-strip old-style JPEG here would decode garbage silently
        raise NotImplementedError(
            "old-style per-strip JPEG in a parts mosaic")
    out = []
    for t, (o, c) in enumerate(zip(d["offsets"], d["counts"])):
        fh.seek(o)
        raw = _decompress(fh.read(c), d["comp"])
        if d["pred"] == 3:
            esize = np.dtype(np_dt).itemsize
            be = _unpredict3(
                np.frombuffer(raw, np.uint8).reshape(-1, d["tw"] * esize),
                esize)
            block = np.frombuffer(
                be.tobytes(), ">" + np_dt.lstrip("<>|")
            ).reshape(-1, d["tw"])
        else:
            block = np.frombuffer(raw, dtype=np_dt).reshape(-1, d["tw"])
        if d["pred"] == 2:
            block = _unpredict2(block)
        out.append((t, block.astype("<f8")))
    return out


def read_geotiff_parts(
    spark: SparkSession, path: str, overview: int = 0
) -> tuple[DataFrame, Grid, int]:
    """Open a :func:`write_cog_parts` mosaic directory → (cell table,
    Grid, n_bands). Each PART decodes wholly inside one executor task
    (driver reads only mosaic.json) — the part grid is the parallelism
    unit, the inverse of the sharded write."""
    with open(os.path.join(path, "mosaic.json")) as f:
        m = json.load(f)
    grid = Grid(
        x0=m["x0"], y0=m["y0"], cell=m["cell"],
        rows=m["rows"], cols=m["cols"], epsg=m["epsg"], nodata=m["nodata"],
    )
    if overview > 0:
        lv = m["levels"][overview - 1]
        grid = Grid(
            x0=m["x0"], y0=m["y0"], cell=m["cell"] * lv,
            rows=(m["rows"] + lv - 1) // lv, cols=(m["cols"] + lv - 1) // lv,
            epsg=m["epsg"], nodata=m["nodata"],
        )
    sh, sw = m["shard"]
    npi, npj = m["parts"]
    nodata = m["nodata"]
    n_levels = 1 + len(m["levels"])
    lv = 1 if overview == 0 else m["levels"][overview - 1]
    parts = spark.createDataFrame(
        [(i, j) for i in range(npi) for j in range(npj)], "pi long, pj long"
    )

    def decode(batches):
        def tiles():
            for pdf in batches:
                for pi, pj in zip(pdf["pi"], pdf["pj"]):
                    p = os.path.join(path,
                                     f"part-r{int(pi)}-c{int(pj)}.tif")
                    ifds = _read_ifds(p)
                    n_bands = len(ifds) // n_levels
                    # part row/col origin at this overview level (shard
                    # dims divide every level, so the division is exact)
                    r_org, c_org = int(pi) * sh // lv, int(pj) * sw // lv
                    with open(p, "rb") as fh:
                        for b in range(n_bands):
                            d = ifds[b * n_levels + overview]
                            ntx = (d["cols"] + d["tw"] - 1) // d["tw"]
                            for t, block in _decode_ifd_tiles(fh, d):
                                ti, tj = t // ntx, t % ntx
                                yield _blocks.sparse_cells(
                                    block, b,
                                    r_org + ti * d["th"],
                                    c_org + tj * d["tw"],
                                    grid.rows, grid.cols, nodata,
                                )

        yield from _blocks.bounded_concat(tiles())

    cells = parts.mapInPandas(
        decode, "band long, row long, col long, value double"
    )
    return cells, grid, int(m["n_bands"])


def _read_ifds(path: str) -> list[dict]:
    with open(path, "rb") as fh:
        hdr = fh.read(8)
        bo, magic = struct.unpack("<2sH", hdr[:4])
        if bo != b"II" or magic not in (42, 43):
            raise NotImplementedError("only little-endian TIFF/BigTIFF")
        if magic == 43:
            bs, zero = struct.unpack("<HH", hdr[4:8])
            if bs != 8 or zero != 0:
                raise NotImplementedError("malformed BigTIFF header")
            (off,) = struct.unpack("<Q", fh.read(8))
        else:
            (off,) = struct.unpack("<I", hdr[4:8])
        v = _Variant(magic == 43)
        out = []
        while off:
            fh.seek(off)
            (n,) = struct.unpack(v.count_fmt, fh.read(v.count_len))
            tags = {}
            for _ in range(n):
                tag, typ, cnt, val = struct.unpack(
                    v.entry_fmt, fh.read(v.entry)
                )
                tags[tag] = (typ, cnt, val)
            (off,) = struct.unpack(v.off_fmt, fh.read(v.off_len))

            def arr(tag, fmt, per):
                typ, cnt, val = tags[tag]
                if fmt in ("I", "Q"):
                    # offset arrays may be SHORT/LONG/LONG8 on disk
                    if typ == _T_SHORT:
                        fmt, per = "H", 2
                    elif typ == _T_LONG:
                        fmt, per = "I", 4
                    elif typ == _T_LONG8:
                        fmt, per = "Q", 8
                if cnt * per <= v.inline and fmt in ("I", "H", "Q"):
                    # values totalling <= the value-field width live IN
                    # the value field itself (e.g. a 2-strip classic file
                    # with SHORT StripByteCounts), not at an offset
                    return list(
                        struct.unpack(
                            f"<{cnt}{fmt}",
                            struct.pack(v.off_fmt, val)[: cnt * per],
                        )
                    )
                cur = fh.tell()
                fh.seek(val)
                vals = list(struct.unpack(f"<{cnt}{fmt}", fh.read(cnt * per)))
                fh.seek(cur)
                return vals

            d = {
                "rows": tags[_H][2], "cols": tags[_W][2],
                "scale": arr(_PIXSCALE, "d", 8) if _PIXSCALE in tags else [1.0, 1.0, 0.0],
                "tie": arr(_TIEPOINT, "d", 8) if _TIEPOINT in tags else [0.0] * 6,
                "geokeys": arr(_GEOKEYS, "H", 2) if _GEOKEYS in tags else [1, 1, 0, 0],
                "overview": _NEWSUBFILE in tags and tags[_NEWSUBFILE][2] == 1,
            }
            if _TW in tags:  # tiled layout (our writer; COGs)
                d["tw"], d["th"] = tags[_TW][2], tags[_TH][2]
                d["offsets"], d["counts"] = arr(_TOFF, "Q", 8), arr(_TCNT, "Q", 8)
            elif _SOFF in tags:  # strip layout — how most GeoTIFFs in the
                # wild are organized: strips ≙ full-width tiles (the last
                # strip may be SHORT — decode reshapes by actual length)
                d["tw"] = tags[_W][2]
                d["th"] = tags[_RPS][2] if _RPS in tags else tags[_H][2]
                d["offsets"], d["counts"] = arr(_SOFF, "Q", 8), arr(_SCNT, "Q", 8)
            elif 513 in tags:  # old-style JPEG interchange only: the
                # layout is rewritten to one full-image strip below —
                # valid solely under Compression 6, else the comp==6
                # block never fills offsets and the IFD would silently
                # decode as an empty raster
                if (tags[_COMP][2] if _COMP in tags else 1) != 6:
                    raise NotImplementedError(
                        "IFD has JPEGInterchangeFormat (tag 513) but no "
                        "strip/tile layout and Compression != 6")
                d["tw"], d["th"] = tags[_W][2], tags[_H][2]
                d["offsets"], d["counts"] = [], []
            else:
                raise NotImplementedError("IFD has neither tile nor strip layout")
            d["comp"] = tags[_COMP][2] if _COMP in tags else 1
            d["pred"] = tags.get(_PREDICTOR, (0, 0, 1))[2]
            d["jpeg_tables"] = None
            if _JPEGTABLES in tags:
                typ, cnt, val = tags[_JPEGTABLES]
                if cnt <= v.inline:
                    d["jpeg_tables"] = struct.pack(v.off_fmt, val)[:cnt]
                else:
                    cur = fh.tell()
                    fh.seek(val)
                    d["jpeg_tables"] = fh.read(cnt)
                    fh.seek(cur)
            d["jpeg6"] = None
            if d["comp"] == 6:  # old-style JPEG (TIFF 6.0 original scheme)
                if 513 in tags:
                    # JPEGInterchangeFormat: ONE full stream covers the
                    # whole image — rewrite the layout to a single strip
                    # so the tile machinery decodes it like a comp-7 file
                    if 514 not in tags:
                        raise NotImplementedError(
                            "old-style JPEG with JPEGInterchangeFormat "
                            "but no ...FormatLength (tag 514)")
                    d["offsets"] = [tags[513][2]]
                    d["counts"] = [tags[514][2]]
                    d["th"], d["tw"] = d["rows"], d["cols"]
                else:
                    # per-strip entropy data + table tags: synthesize the
                    # marker prelude per strip (_jpeg6_stream)
                    if tags.get(512, (0, 0, 1))[2] != 1:
                        raise NotImplementedError(
                            "old-style JPEG with JPEGProc != 1 (baseline)"
                        )
                    if tags.get(262, (0, 0, 1))[2] == 6:
                        raise NotImplementedError(
                            "old-style per-strip JPEG with YCbCr "
                            "photometric (subsampled scans) — only the "
                            "interchange-format (tag 513) shape decodes "
                            "for color"
                        )
                    if not (519 in tags and 520 in tags and 521 in tags):
                        raise NotImplementedError(
                            "old-style per-strip JPEG without "
                            "JPEGQTables/DCTables/ACTables (519-521)")

                    def _jtbl(tid: int, kind: str) -> "list[bytes]":
                        offs = arr(tid, "I", 4)
                        cur = fh.tell()
                        out2 = []
                        for o in offs:
                            fh.seek(int(o))
                            if kind == "q":  # 64 zigzag quant bytes
                                out2.append(fh.read(64))
                            else:  # DHT payload: 16 counts + values
                                bits16 = fh.read(16)
                                out2.append(bits16 + fh.read(sum(bits16)))
                        fh.seek(cur)
                        return out2

                    d["jpeg6"] = {
                        "q": _jtbl(519, "q"), "dc": _jtbl(520, "h"),
                        "ac": _jtbl(521, "h"),
                        "ri": tags.get(515, (0, 0, 0))[2],
                    }
            spp = tags.get(_SPP, (0, 0, 1))[2]
            if tags.get(_BITS, (0, 1, 0))[1] > 1:
                # spp > 1: BitsPerSample is an array of spp SHORTs —
                # uniform depth required (mixed-depth samples are exotic)
                bits_arr = arr(_BITS, "H", 2)
                if len(set(bits_arr)) != 1:
                    raise NotImplementedError(
                        f"mixed per-sample bit depths {bits_arr}"
                    )
                bits = bits_arr[0]
            else:
                bits = tags.get(_BITS, (0, 0, 0))[2]
            sfmt = tags.get(_SFMT, (0, 0, 1))[2]  # absent tag ≙ unsigned int
            planar = tags.get(_PLANAR, (0, 0, 1))[2]
            d["dtype"] = _dt.FROM_TIFF.get((bits, sfmt))
            if d["comp"] == 7 and bits == 12 and sfmt == 1:
                # 12-bit JPEG (the aerial/medical layout): samples decode
                # into uint16 words, which is also how they reshape
                d["dtype"] = "uint16"
            d["spp"] = spp
            if d["comp"] not in (1, 5, 6, 7, 8, 32773) or d["dtype"] is None \
                    or spp < 1:
                raise NotImplementedError(
                    "only raw/LZW/JPEG/DEFLATE/PackBits rasters over the "
                    f"{sorted(_dt.TABLE)} dtype table; got "
                    f"comp={d['comp']} bits={bits} sfmt={sfmt} spp={spp}"
                )
            if d["comp"] == 7 and (
                bits not in (8, 12) or sfmt != 1 or d["pred"] != 1
            ):
                raise NotImplementedError(
                    "JPEG-compressed TIFF must be 8- or 12-bit UNSIGNED "
                    f"samples without a predictor (got bits={bits} "
                    f"sfmt={sfmt} pred={d['pred']})"
                )
            if d["comp"] == 6 and (bits != 8 or sfmt != 1
                                   or d["pred"] != 1):
                raise NotImplementedError(
                    "old-style JPEG TIFF must be 8-bit unsigned samples "
                    f"without a predictor (got bits={bits} sfmt={sfmt} "
                    f"pred={d['pred']})"
                )
            if spp > 1 and planar != 1:
                raise NotImplementedError(
                    "PlanarConfiguration 2 (separate sample planes) "
                    "unsupported — chunky interleaved (1) only"
                )
            if d["pred"] == 2 and d["dtype"].startswith("float"):
                raise NotImplementedError(
                    "Predictor 2 (horizontal differencing) is integer-only"
                )
            if d["pred"] == 3 and not d["dtype"].startswith("float"):
                raise NotImplementedError(
                    "Predictor 3 (floating-point differencing) needs "
                    "float samples"
                )
            if d["pred"] not in (1, 2, 3):
                raise NotImplementedError(
                    f"Predictor {d['pred']} unsupported (1 = none, 2 = "
                    "integer horizontal differencing, 3 = floating-point)"
                )
            if _GDAL_NODATA in tags:
                typ, cnt, val = tags[_GDAL_NODATA]
                if cnt <= v.inline:  # short ASCII inlines in the value field
                    s = struct.pack(v.off_fmt, val)[:cnt]
                else:
                    fh.seek(val)
                    s = fh.read(cnt)
                s = s.rstrip(b"\x00").decode()
                d["nodata"] = None if s == "nan" else float(s)
            else:
                d["nodata"] = None
            out.append(d)
        return out


def read_geotiff(
    spark: SparkSession, path: str, overview: int = 0
) -> tuple[DataFrame, Grid, int]:
    """Open a (this-module-shaped) tiled GeoTIFF → (cell table, Grid,
    n_bands). ``overview`` selects the pyramid level (0 = full res). The
    driver parses only the IFD chain; tiles decode distributed by byte
    range."""
    ifds = _read_ifds(path)
    full = [i for i, d in enumerate(ifds) if not d["overview"]]
    n_bands = len(full)
    n_levels = len(ifds) // n_bands
    if overview >= n_levels:
        raise ValueError(f"store has {n_levels} levels (asked for {overview})")
    picked = [ifds[b * n_levels + overview] for b in range(n_bands)]
    d0 = picked[0]
    if any(
        d["comp"] != d0["comp"] or d["dtype"] != d0["dtype"]
        or d["pred"] != d0["pred"] or d["spp"] != d0["spp"]
        # JPEG table sets are hoisted from the FIRST IFD into the
        # decoder closure — a page carrying its own quant/Huffman
        # tables would silently dequantize with page 0's
        or d["jpeg_tables"] != d0["jpeg_tables"] or d["jpeg6"] != d0["jpeg6"]
        for d in picked
    ):
        raise NotImplementedError(
            "mixed per-band compression/dtype/predictor/spp/JPEG-tables "
            "unsupported"
        )
    gk = d0["geokeys"]
    epsg = 4326
    for i in range(4, len(gk) - 3, 4):  # entries follow the 4-SHORT header
        if gk[i] in (2048, 3072):
            epsg = gk[i + 3]
    grid = Grid(
        x0=d0["tie"][3], y0=d0["tie"][4], cell=d0["scale"][0],
        rows=d0["rows"], cols=d0["cols"], epsg=epsg, nodata=d0["nodata"],
    )
    rows_meta = []
    for b, d in enumerate(picked):
        ntx = (d["cols"] + d["tw"] - 1) // d["tw"]
        for t, (o, c) in enumerate(zip(d["offsets"], d["counts"])):
            rows_meta.append((b, t // ntx, t % ntx, o, c))
    meta_df = spark.createDataFrame(
        rows_meta, "band long, ti long, tj long, off long, cnt long"
    )
    th, tw, rows, cols = d0["th"], d0["tw"], d0["rows"], d0["cols"]
    fill = d0["nodata"]
    comp, pred, spp = d0["comp"], d0["pred"], d0["spp"]
    jtables, j6 = d0["jpeg_tables"], d0["jpeg6"]
    np_dt_str = str(_dt.np_dtype(d0["dtype"]).str)

    def decode(batches):
        with open(path, "rb") as fh:

            def tiles():
                for pdf in batches:
                    for b, ti, tj, o, c in zip(
                        pdf["band"], pdf["ti"], pdf["tj"], pdf["off"],
                        pdf["cnt"],
                    ):
                        yield from _decode_one(b, ti, tj, o, c)

            def _decode_one(b, ti, tj, o, c):
                fh.seek(o)
                if comp == 6 and j6 is not None:
                    # per-strip entropy data: synthesize the marker
                    # prelude with THIS strip's exact height
                    from . import jpeg as _jp

                    raw = _jp.decode_jpeg(_jpeg6_stream(
                        fh.read(c), j6, tw,
                        min(th, rows - int(ti) * th), spp,
                    )).tobytes()
                else:
                    raw = _decompress(fh.read(c), comp, jtables)
                # reshape by actual length: tiles are full (th, tw);
                # a foreign file's LAST STRIP may be short. Decode in
                # the STORED dtype, widen to the engine's float64
                if pred == 3:
                    esize = np.dtype(np_dt_str).itemsize
                    be = _unpredict3(
                        np.frombuffer(raw, np.uint8).reshape(
                            -1, tw * spp * esize), esize, spp)
                    block = np.frombuffer(
                        be.tobytes(), ">" + np_dt_str.lstrip("<>|")
                    ).reshape(-1, tw * spp)
                else:
                    block = np.frombuffer(raw, dtype=np_dt_str).reshape(
                        -1, tw * spp
                    )
                if pred == 2:
                    block = _unpredict2(block, spp)
                if spp == 1:
                    yield _blocks.sparse_cells(
                        block.astype("<f8"), int(b), int(ti) * th,
                        int(tj) * tw, rows, cols, fill
                    )
                    return
                # chunky interleaved: one IFD carries spp samples —
                # sample s becomes engine band ifd*spp + s
                cube = block.reshape(block.shape[0], tw, spp)
                for s in range(spp):
                    yield _blocks.sparse_cells(
                        np.ascontiguousarray(cube[:, :, s])
                        .astype("<f8"),
                        int(b) * spp + s, int(ti) * th,
                        int(tj) * tw, rows, cols, fill
                    )

            yield from _blocks.bounded_concat(tiles())

    cells = meta_df.mapInPandas(decode, "band long, row long, col long, value double")
    return cells, grid, n_bands * spp
