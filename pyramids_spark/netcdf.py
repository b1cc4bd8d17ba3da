"""Real NetCDF classic (CDF-1 / CDF-2 / CDF-5) container I/O in pure
struct+numpy.

Reference surface: ``NetCDF.read_file`` / ``to_file``
(``/root/reference/src/pyramids/netcdf/netcdf.py:849-982`` — GDAL's
netCDF driver; tests under ``tests/netcdf/``). The classic format is a
PUBLIC, compression-free binary spec simple enough to implement directly
(the netCDF-4/HDF5 generation lives in ``pyramids_spark.hdf5``;
``SparkNetCDF.read_file`` sniffs the magic and dispatches):

- header: magic ``CDF\\x01``/``CDF\\x02``/``CDF\\x05`` + numrecs + dim
  list + global attributes + variable list (name, dimids, attributes,
  external type, vsize, begin); everything big-endian, names/values
  padded to 4 bytes. CDF-5 (the PnetCDF 64-bit-data format) widens every
  NON_NEG field — counts, name lengths, dim sizes, dimids, vsize,
  numrecs — to 8 bytes and adds the unsigned + 64-bit external types;
- fixed-size variables live contiguously at their ``begin``;
- record variables interleave per record: record ``r`` of variable ``v``
  starts at ``begin_v + r * recsize`` where ``recsize`` is the sum of the
  record variables' (padded) per-record sizes.

Distributed shape — BETTER than the GeoTIFF driver-stream sink, because
classic NetCDF has NO compression: every slab's byte offset is computable
at plan time. The WRITE pre-truncates the file to its final size, then a
single Spark job covers every (variable, record, row-block) key (a
generated key frame LEFT-joined with the cells, so all-fill slabs are
written too) and each task ``os.pwrite``-s its slab at its precomputed
offset — parallel, idempotent under retry (same bytes, same offset), no
driver loop. Requires the store path to be a shared POSIX filesystem on a
real cluster (the zarr store contract). The READ parses the KB-scale
header on the driver, ships a (variable, record, row-block, offset) slice
table to executors, and decodes by byte range in ``mapInPandas`` — the
``tiff.py`` pattern.

Engine mapping: the long cell table ``(variable, t, band, row, col,
value)`` of :class:`pyramids_spark.api.SparkNetCDF`; 1-D coordinate
variables (CF: name == dimension name) become label tables for
``sel_labels``; attributes feed ``cf.decode_cf_value``.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _blocks, _staged, dtypes as _dt, keys
from .grid import Grid

_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 10, 11, 12
_NC_BYTE, _NC_CHAR, _NC_SHORT, _NC_INT, _NC_FLOAT, _NC_DOUBLE = 1, 2, 3, 4, 5, 6
#: CDF-5 extended atomic types (the 64-bit-data format adds unsigned + 64-bit)
_NC_UBYTE, _NC_USHORT, _NC_UINT, _NC_INT64, _NC_UINT64 = 7, 8, 9, 10, 11
#: engine dtype name → classic external type (CDF-1/2 have NO unsigned types)
_NC_OF = {"int8": _NC_BYTE, "int16": _NC_SHORT, "int32": _NC_INT,
          "float32": _NC_FLOAT, "float64": _NC_DOUBLE}
#: CDF-5 additionally maps the unsigned engine dtypes
_NC_OF5 = {**_NC_OF, "uint8": _NC_UBYTE, "uint16": _NC_USHORT,
           "uint32": _NC_UINT}
#: external type → (big-endian numpy dtype, size)
_NP_OF = {_NC_BYTE: (">i1", 1), _NC_CHAR: ("S1", 1), _NC_SHORT: (">i2", 2),
          _NC_INT: (">i4", 4), _NC_FLOAT: (">f4", 4), _NC_DOUBLE: (">f8", 8),
          _NC_UBYTE: (">u1", 1), _NC_USHORT: (">u2", 2), _NC_UINT: (">u4", 4),
          _NC_INT64: (">i8", 8), _NC_UINT64: (">u8", 8)}


def _pad4(n: int) -> int:
    return (n + 3) // 4 * 4


def _absent(w: str = ">I") -> bytes:
    # ABSENT = zero tag (4-byte INT) + zero nelems (NON_NEG: 4 or 8 bytes)
    return b"\x00" * (4 + struct.calcsize(w))


def _name_bytes(s: str, w: str = ">I") -> bytes:
    b = s.encode()
    return struct.pack(w, len(b)) + b + b"\x00" * (_pad4(len(b)) - len(b))


def _att_bytes(name: str, value, w: str = ">I") -> bytes:
    """One attribute: str → NC_CHAR, float → NC_DOUBLE, int → NC_INT,
    numpy scalar keeps its own width (for typed _FillValue)."""
    out = _name_bytes(name, w)
    if isinstance(value, str):
        b = value.encode()
        return out + struct.pack(">I", _NC_CHAR) + struct.pack(w, len(b)) \
            + b + b"\x00" * (_pad4(len(b)) - len(b))
    if isinstance(value, np.generic):
        nc = {np.dtype("i1"): _NC_BYTE, np.dtype("i2"): _NC_SHORT,
              np.dtype("i4"): _NC_INT, np.dtype("f4"): _NC_FLOAT,
              np.dtype("f8"): _NC_DOUBLE, np.dtype("u1"): _NC_UBYTE,
              np.dtype("u2"): _NC_USHORT, np.dtype("u4"): _NC_UINT,
              np.dtype("i8"): _NC_INT64,
              np.dtype("u8"): _NC_UINT64}[np.dtype(value.dtype.str[1:])]
        raw = np.array([value]).astype(_NP_OF[nc][0]).tobytes()
        return out + struct.pack(">I", nc) + struct.pack(w, 1) + raw \
            + b"\x00" * (_pad4(len(raw)) - len(raw))
    if isinstance(value, int):
        return out + struct.pack(">I", _NC_INT) + struct.pack(w, 1) \
            + struct.pack(">i", value)
    return out + struct.pack(">I", _NC_DOUBLE) + struct.pack(w, 1) \
        + struct.pack(">d", float(value))


def _att_list_bytes(atts: "list[tuple[str, object]]", w: str = ">I") -> bytes:
    if not atts:
        return _absent(w)
    return struct.pack(">I", _NC_ATTRIBUTE) + struct.pack(w, len(atts)) \
        + b"".join(_att_bytes(k, v, w) for k, v in atts)


class _Var:
    def __init__(self, name, dimids, nc_type, atts, vsize):
        self.name, self.dimids, self.nc_type = name, dimids, nc_type
        self.atts, self.vsize, self.begin = atts, vsize, 0

    def header_bytes(self, off_fmt: str, w: str = ">I") -> bytes:
        out = _name_bytes(self.name, w)
        out += struct.pack(w, len(self.dimids))
        for d in self.dimids:  # dimids are NON_NEG too (8-byte in CDF-5)
            out += struct.pack(w, d)
        out += _att_list_bytes(self.atts, w)
        out += struct.pack(">I", self.nc_type) + struct.pack(w, self.vsize)
        out += struct.pack(off_fmt, self.begin)
        return out


def write_netcdf(
    cells_df: DataFrame, grid: Grid, path: str, times: "list[float]",
    variables: "list[str] | None" = None, dtype: str = "float64",
    version: int = 1, row_block: int = 256,
) -> pd.DataFrame:
    """Write the long cell table ``(variable, t, row, col, value)`` (t is
    an INDEX 0..len(times)-1 into the ``times`` coordinate) as one classic
    NetCDF file: dims ``(time=UNLIMITED, y, x)``, coordinate variables
    ``time``/``y``/``x`` (cell-centre doubles), one record data variable
    per name in ``variables`` with a typed ``_FillValue``. ``version`` 1 =
    CDF-1 (31-bit offsets), 2 = CDF-2 (64-bit offsets), 5 = CDF-5 (the
    PnetCDF 64-bit-data format: 8-byte counts/sizes everywhere plus the
    unsigned external types). Returns the slab manifest
    ``(variable, t, row0, n_cells, n_bytes)`` (lineage)."""
    if version not in (1, 2, 5):
        raise ValueError(f"version must be 1, 2 or 5, got {version}")
    dt_name = _dt.resolve(dtype)
    nc_table = _NC_OF5 if version == 5 else _NC_OF
    if dt_name not in nc_table:
        raise NotImplementedError(
            f"CDF-{version} has no external type for {dt_name!r} "
            f"(supported: {sorted(nc_table)}"
            + ("" if version == 5 else "; unsigned dtypes need version=5")
            + ")"
        )
    nc_type = nc_table[dt_name]
    np_be, esize = _NP_OF[nc_type]
    fill = _dt.check_fill(dt_name, grid.nodata)
    rows, cols = grid.rows, grid.cols
    n_t = len(times)
    if variables is None:
        variables = sorted(
            r[0] for r in cells_df.select("variable").distinct().collect()
        )

    # --- header structure -------------------------------------------------
    dims = [("time", 0), ("y", rows), ("x", cols)]  # size 0 = record dim
    gatts = [("Conventions", "CF-1.6"), ("x0", grid.x0), ("y0", grid.y0),
             ("cell", grid.cell), ("epsg", int(grid.epsg))]
    if grid.nodata is not None:
        gatts.append(("nodata", float(grid.nodata)))
    fill_np = _dt.cast_block(np.full(1, fill, "<f8"), dt_name)[0]
    slab = rows * cols * esize  # one variable × one record, unpadded
    data_atts = [("_FillValue", fill_np)]
    vars_: list[_Var] = [
        _Var("time", [0], _NC_DOUBLE, [("axis", "T")], 8),
        _Var("y", [1], _NC_DOUBLE, [("axis", "Y")], _pad4(rows * 8)),
        _Var("x", [2], _NC_DOUBLE, [("axis", "X")], _pad4(cols * 8)),
    ] + [_Var(v, [0, 1, 2], nc_type, list(data_atts), _pad4(slab))
         for v in variables]
    rec_vars = [v for v in vars_ if v.dimids and v.dimids[0] == 0]
    if len(rec_vars) == 1:  # spec special case: single record var unpadded
        # only `time` can be alone (every data variable is a record var
        # too), and its unpadded per-record size is one double — NOT the
        # data slab (code-review r5 pass 3)
        rec_vars[0].vsize = 8
    recsize = sum(v.vsize for v in rec_vars)

    # size caps BEFORE serialization (struct would overflow first): the
    # vsize field is 4 bytes in every classic version; CDF-1 begins are
    # 31-bit. The 100-TB storage paths are the parquet/zarr cell tables —
    # one .nc is an export artifact, like the single .tif.
    if version != 5 and max(v.vsize for v in vars_) > 2**32 - 1:
        raise ValueError(
            f"per-record slab is {slab} bytes — exceeds the CDF-1/2 vsize "
            "field (4 bytes); pass version=5 (CDF-5) or use to_zarr/"
            "to_parquet for rasters this size"
        )
    fixed_bytes = sum(v.vsize for v in vars_ if v not in rec_vars)
    if version == 1 and fixed_bytes + n_t * recsize > 2**31 - 1:
        raise ValueError(
            f"file needs ~{fixed_bytes + n_t * recsize} data bytes — CDF-1 "
            "caps offsets at 2 GiB; pass version=2 (CDF-2, 64-bit offsets)"
        )

    off_fmt = ">I" if version == 1 else ">Q"
    w = ">Q" if version == 5 else ">I"  # NON_NEG width (counts/sizes)
    magic = bytes([0x43, 0x44, 0x46, version])

    def header() -> bytes:
        out = magic + struct.pack(w, n_t)
        out += struct.pack(">I", _NC_DIMENSION) + struct.pack(w, len(dims))
        for nm, sz in dims:
            out += _name_bytes(nm, w) + struct.pack(w, sz)
        out += _att_list_bytes(gatts, w)
        out += struct.pack(">I", _NC_VARIABLE) + struct.pack(w, len(vars_))
        for v in vars_:
            out += v.header_bytes(off_fmt, w)
        return out

    hlen = len(header())  # begin width is fixed → length is begin-invariant
    # fixed vars first, then the record section (record-0 offsets)
    cur = _pad4(hlen)
    for v in vars_:
        if v.dimids and v.dimids[0] == 0:
            continue
        v.begin = cur
        cur += v.vsize
    rec_begin = cur
    for v in rec_vars:
        v.begin = cur
        cur += v.vsize
    total = rec_begin + n_t * recsize
    if version == 1 and total > 2**31 - 1:
        raise ValueError(
            f"file needs {total} bytes — CDF-1 caps offsets at 2 GiB; "
            "pass version=2 (CDF-2, 64-bit offsets)"
        )

    by_name = {v.name: v for v in vars_}
    with open(path, "wb") as fh:
        fh.write(header())
        fh.seek(by_name["y"].begin)
        yc = grid.y0 - (np.arange(rows, dtype="<f8") + 0.5) * grid.cell
        fh.write(yc.astype(">f8").tobytes())
        fh.seek(by_name["x"].begin)
        xc = grid.x0 + (np.arange(cols, dtype="<f8") + 0.5) * grid.cell
        fh.write(xc.astype(">f8").tobytes())
        for r, tv in enumerate(times):  # the time coord is itself a record var
            fh.seek(by_name["time"].begin + r * recsize)
            fh.write(struct.pack(">d", float(tv)))
        fh.truncate(total)  # zero-fill pads; slabs land by pwrite below

    # --- data slabs: one job over EVERY (variable, record, row-block) -----
    begins = {v: by_name[v].begin for v in variables}
    n_blocks = (rows + row_block - 1) // row_block

    slabs = (
        spark_of(cells_df).range(n_blocks).select(F.col("id").alias("_rb"))
        .crossJoin(
            spark_of(cells_df).createDataFrame(
                [(v, t) for v in variables for t in range(n_t)],
                "variable string, t long",
            )
        )
    )
    keyed = cells_df.select(
        "variable", "t", "row", "col", "value",
        (F.col("row") / row_block).cast("long").alias("_rb"),
    ).where(F.col("value").isNotNull())
    # full outer: cells whose (variable, t) match no key — e.g. t outside
    # range(n_t) — form their own groups and fail loudly in build, instead
    # of silently vanishing from the file (code-review r5 finding).
    covered = slabs.join(keyed, ["variable", "t", "_rb"], "full_outer")

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        v, t, rb = str(key[0]), int(key[1]), int(key[2])
        if v not in begins or not (0 <= t < n_t) or not (0 <= rb < n_blocks):
            raise ValueError(
                f"cell with variable={v!r}, t={t} outside file dimensions "
                f"(variables={sorted(begins)}, n_t={n_t})"
            )
        pdf = pdf[pdf["value"].notna()]
        keys.check_extent(pdf["row"].to_numpy(), pdf["col"].to_numpy(), rows,
                          cols, f"cell outside grid extent ({rows}x{cols}) in {v!r}")
        r0 = rb * row_block
        bh = min(row_block, rows - r0)
        block = _blocks.dense_block(pdf, bh, cols, r0, 0, fill)
        data = _dt.cast_block(block, dt_name).astype(np_be).tobytes(order="C")
        off = begins[v] + t * recsize + r0 * cols * esize
        fd = os.open(path, os.O_WRONLY)
        try:
            _staged._pwrite_all(fd, data, off)  # pwrite may write short on NFS
        finally:
            os.close(fd)
        return pd.DataFrame(
            {"variable": [v], "t": [t], "row0": [r0],
             "n_cells": [len(pdf)], "n_bytes": [len(data)]}
        )

    manifest = (
        covered.groupBy("variable", "t", "_rb")
        .applyInPandas(
            build,
            schema="variable string, t long, row0 long, n_cells long, n_bytes long",
        )
        .toPandas()
        .sort_values(["variable", "t", "row0"])
        .reset_index(drop=True)
    )
    return manifest


def spark_of(df: DataFrame) -> SparkSession:
    return df.sparkSession


# --------------------------------------------------------------------------
# reader
# --------------------------------------------------------------------------


def _read_header(path: str) -> dict:
    """Parse the classic header driver-side (KBs): dims, global attrs,
    vars (dimids, attrs, type, vsize, begin), numrecs, recsize."""
    with open(path, "rb") as fh:
        raw = fh.read(1 << 20)  # classic headers are small; 1 MiB is generous
    if raw[:3] != b"CDF" or raw[3] not in (1, 2, 5):
        raise NotImplementedError(
            "not a classic NetCDF file (CDF-1/CDF-2/CDF-5); netCDF-4/HDF5 "
            "is handled by pyramids_spark.hdf5"
        )
    version = raw[3]
    off_fmt, off_len = (">I", 4) if version == 1 else (">Q", 8)
    # NON_NEG fields (counts, name lengths, dim sizes, nelems, dimids,
    # vsize) widen to 8 bytes in the CDF-5 64-bit-data format
    nn_fmt, nn_len = (">Q", 8) if version == 5 else (">I", 4)
    pos = 4

    def u4():
        nonlocal pos
        (v,) = struct.unpack_from(">I", raw, pos)
        pos += 4
        return v

    def nn():
        nonlocal pos
        (v,) = struct.unpack_from(nn_fmt, raw, pos)
        pos += nn_len
        return v

    def name():
        nonlocal pos
        n = nn()
        s = raw[pos:pos + n].decode()
        pos += _pad4(n)
        return s

    def att_list():
        nonlocal pos
        tag, cnt = u4(), nn()
        if tag == 0 and cnt == 0:
            return {}
        if tag != _NC_ATTRIBUTE:
            raise ValueError(f"bad attribute-list tag {tag}")
        out = {}
        for _ in range(cnt):
            nm = name()
            typ, n = u4(), nn()
            np_dt, esz = _NP_OF[typ]
            b = raw[pos:pos + n * esz]
            pos += _pad4(n * esz)
            if typ == _NC_CHAR:
                out[nm] = b.decode(errors="replace")
            else:
                vals = np.frombuffer(b, dtype=np_dt)
                out[nm] = vals[0].item() if n == 1 else vals.tolist()
        return out

    numrecs = nn()
    streaming = numrecs == (0xFFFFFFFFFFFFFFFF if version == 5
                            else 0xFFFFFFFF)
    tag, cnt = u4(), nn()
    dims = []
    if tag == _NC_DIMENSION:
        for _ in range(cnt):
            dims.append((name(), nn()))
    elif (tag, cnt) != (0, 0):
        raise ValueError(f"bad dimension-list tag {tag}")
    gatts = att_list()
    tag, cnt = u4(), nn()
    vars_ = []
    if tag == _NC_VARIABLE:
        for _ in range(cnt):
            nm = name()
            nd = nn()
            dimids = [nn() for _ in range(nd)]
            atts = att_list()
            typ, vsize = u4(), nn()
            (begin,) = struct.unpack_from(off_fmt, raw, pos)
            pos += off_len
            vars_.append(
                {"name": nm, "dimids": dimids, "atts": atts, "type": typ,
                 "vsize": vsize, "begin": begin}
            )
    elif (tag, cnt) != (0, 0):
        raise ValueError(f"bad variable-list tag {tag}")

    rec_dim = next((i for i, (_, sz) in enumerate(dims) if sz == 0), None)
    rec_vars = [v for v in vars_ if v["dimids"] and v["dimids"][0] == rec_dim]
    recsize = sum(v["vsize"] for v in rec_vars)
    if len(rec_vars) == 1:
        # single-record-var special case: slab is unpadded on disk
        v = rec_vars[0]
        shape = [dims[d][1] for d in v["dimids"][1:]]
        recsize = int(np.prod(shape)) * _NP_OF[v["type"]][1] if shape else \
            _NP_OF[v["type"]][1]
    if streaming and rec_vars:  # STREAMING sentinel
        first = min(v["begin"] for v in rec_vars)
        numrecs = (os.path.getsize(path) - first) // recsize
    return {"version": version, "numrecs": numrecs, "dims": dims,
            "gatts": gatts, "vars": vars_, "rec_dim": rec_dim,
            "recsize": recsize}


def derive_grid(
    gatts: dict, yv: "np.ndarray | None", xv: "np.ndarray | None",
    rows: int, cols: int,
) -> "tuple[Grid, bool]":
    """Georeferencing shared by every NetCDF-family reader (classic and
    netCDF-4/HDF5): this engine's ``x0``/``y0``/``cell`` global attrs when
    present, else DERIVED from the 1-D coordinate variables — which must
    be uniformly spaced (loud reject otherwise; curvilinear grids go
    through ``sel_coords2d``). Returns ``(grid, flip)``; ``flip`` is True
    for CF ascending-y files, where slab row 0 is the Grid's LAST row."""
    if {"x0", "y0", "cell"} <= set(gatts):
        grid = Grid(x0=float(gatts["x0"]), y0=float(gatts["y0"]),
                    cell=float(gatts["cell"]), rows=rows, cols=cols,
                    epsg=int(gatts.get("epsg", 4326)),
                    nodata=gatts.get("nodata"))
        return grid, False
    if yv is None or xv is None or len(yv) < 2 or len(xv) < 2:
        raise NotImplementedError(
            "no georeferencing: neither x0/y0/cell attrs nor 1-D y/x "
            "coordinate variables"
        )
    dxs, dys = np.diff(xv), np.diff(yv)
    if not (np.allclose(dxs, dxs[0]) and np.allclose(dys, dys[0])
            and np.isclose(abs(dxs[0]), abs(dys[0]))):
        raise NotImplementedError(
            "non-uniform coordinate spacing — curvilinear/rectilinear "
            "grids are label tables (sel_labels/sel_coords2d), not an "
            "affine Grid"
        )
    if dxs[0] < 0:
        raise NotImplementedError(
            "descending x coordinate — the reader has no column flip, so "
            "accepting it would silently mirror the raster in x"
        )
    cell = float(abs(dxs[0]))
    flip = bool(dys[0] > 0)  # ascending y: row 0 of the Grid = last slab row
    ytop = yv[-1] if flip else yv[0]
    grid = Grid(x0=float(xv[0] - cell / 2), y0=float(ytop + cell / 2),
                cell=cell, rows=rows, cols=cols,
                epsg=int(gatts.get("epsg", 4326)), nodata=None)
    return grid, flip


def read_netcdf(
    spark: SparkSession, path: str, row_block: int = 256
) -> "tuple[DataFrame, Grid, dict]":
    """Open a classic NetCDF → (long cell table ``(variable, t, band, row,
    col, value)``, Grid, header meta). Data variables are the ``(time, y,
    x)`` / ``(y, x)`` numeric vars; ``t`` is the record index (0 for
    fixed vars). Georeferencing comes from this module's global attrs when
    present, else is DERIVED from the 1-D ``y``/``x`` (or CF
    ``lat``/``lon``-named) coordinate variables — which must be uniformly
    spaced (loud reject otherwise; curvilinear grids go through
    ``sel_coords2d``). Cells equal to ``_FillValue`` (or NaN) drop."""
    h = _read_header(path)
    dims, rec_dim = h["dims"], h["rec_dim"]
    by_name = {v["name"]: v for v in h["vars"]}

    def is_data(v) -> bool:
        sp = [d for d in v["dimids"] if d != rec_dim]
        return len(sp) == 2 and v["type"] != _NC_CHAR

    data_vars = [v for v in h["vars"] if is_data(v)]
    if not data_vars:
        raise ValueError("no 2-D (y, x) data variables in file")
    ydim, xdim = data_vars[0]["dimids"][-2:]
    if any(v["dimids"][-2:] != [ydim, xdim] for v in data_vars):
        raise NotImplementedError("data variables disagree on (y, x) dims")
    rows, cols = dims[ydim][1], dims[xdim][1]

    def coord_values(dim_id: int) -> "np.ndarray | None":
        nm = dims[dim_id][0]
        cands = [nm] + (["lat", "latitude"] if nm == "y" else
                        ["lon", "longitude"] if nm == "x" else [])
        for c in cands:
            v = by_name.get(c)
            if v is not None and v["dimids"] == [dim_id]:
                np_dt, esz = _NP_OF[v["type"]]
                with open(path, "rb") as fh:
                    fh.seek(v["begin"])
                    b = fh.read(dims[dim_id][1] * esz)
                return np.frombuffer(b, dtype=np_dt).astype("<f8")
        return None

    grid, flip = derive_grid(
        h["gatts"], coord_values(ydim), coord_values(xdim), rows, cols
    )

    # --- slice table ------------------------------------------------------
    recsize, numrecs = h["recsize"], h["numrecs"]
    slices = []
    for v in data_vars:
        np_dt, esz = _NP_OF[v["type"]]
        fillv = v["atts"].get("_FillValue")
        rec = bool(v["dimids"] and v["dimids"][0] == rec_dim)
        for t in range(numrecs if rec else 1):
            base = v["begin"] + (t * recsize if rec else 0)
            for r0 in range(0, rows, row_block):
                bh = min(row_block, rows - r0)
                slices.append(
                    (v["name"], t, r0, bh, base + r0 * cols * esz,
                     bh * cols * esz, np_dt,
                     float(fillv) if fillv is not None else None)
                )
    meta_df = spark.createDataFrame(
        slices,
        "variable string, t long, row0 long, bh long, off long, nbytes long, "
        "np_dt string, fill double",
    )

    nodata = grid.nodata

    def decode(batches):
        with open(path, "rb") as fh:

            def blocks():
                for pdf in batches:
                    for v, t, r0, bh, off, nb, np_dt, fillv in zip(
                        pdf["variable"], pdf["t"], pdf["row0"], pdf["bh"],
                        pdf["off"], pdf["nbytes"], pdf["np_dt"],
                        pdf["fill"],
                    ):
                        fh.seek(int(off))
                        block = (
                            np.frombuffer(fh.read(int(nb)), dtype=np_dt)
                            .reshape(int(bh), cols)
                            .astype("<f8")
                        )
                        if flip:
                            block = block[::-1]
                            r0 = rows - int(r0) - int(bh)
                        # a driver-side None fill arrives through the
                        # Arrow 'fill double' column as NaN, never None
                        # — pd.isna is the real "no _FillValue" test
                        drop = fillv if not pd.isna(fillv) else (
                            nodata if nodata is not None else float("nan")
                        )
                        f = _blocks.sparse_cells(
                            block, 0, int(r0), 0, rows, cols, drop
                        )
                        f.insert(0, "variable", v)
                        f.insert(1, "t", int(t))
                        yield f

            yield from _blocks.bounded_concat(blocks())

    cells = meta_df.mapInPandas(
        decode,
        "variable string, t long, band long, row long, col long, value double",
    )
    return cells, grid, h
