"""Real Zarr v2 AND v3 container I/O in pure numpy + json — no zarr
library.

Reference surface: ``Dataset.to_zarr`` / zarr ingest (the reference wraps
GDAL's Zarr driver). Both on-disk formats are PUBLIC specs simple enough
to implement directly; chunk compressors cover the wild defaults — zlib/
gzip (stdlib), zstd/lz4/snappy (pyarrow's C++ codecs), and the blosc-1
chunk container (``pyramids_spark.blosc``) that numcodecs writes for
zarr v2 by default.

v2: a store directory holding

- ``.zarray``  — JSON array metadata (shape, chunks, dtype, fill_value,
  ``compressor: null`` = raw chunks, ``order: "C"``),
- ``.zattrs``  — JSON user attributes (the Grid georeferencing rides here:
  x0/y0/cell/epsg/nodata — the same role as GDAL's _CRS attribute),
- one file per chunk named ``b.i.j`` (3-D band/row/col chunk grid), raw
  little-endian C-order bytes in any dtype from the shared storage table
  (``pyramids_spark.dtypes`` — uint8…float64, the reference's GDAL dtype
  table), edge chunks padded to FULL chunk shape with ``fill_value``
  (per spec).

v3 (zarr-python 3's default): one ``zarr.json`` document (node_type
"array") carrying shape, ``data_type`` (plain names — endianness moved
into the ``bytes`` codec), a regular ``chunk_grid``, a
``chunk_key_encoding`` ("default" → ``c/b/i/j`` nested keys, or "v2" →
flat ``b.i.j``), a codec pipeline (``bytes`` + optional ``gzip`` /
``zstd`` / ``blosc``), ``fill_value`` ("NaN" spelled as a string for
floats), and user ``attributes`` inline. The
read side handles both separators of both encodings by parsing the
trailing numeric path tokens.

Distributed shape: the WRITE groups cells by chunk id and each task
serializes + writes its own chunk files (one shuffle on the chunk key —
the parquet-writer pattern; on a cluster the store dir is a shared
filesystem). It returns a per-chunk MANIFEST (chunk id, cells, bytes) —
the lineage/metrics table of the checkpoint contract. The READ lists the
store with Spark's ``binaryFile`` source (distributed scan, no driver
loop) and decodes chunks in ``mapInPandas``; cells equal to fill drop,
restoring the engine's absent-row nodata contract.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _blocks, blosc as _bl, dtypes as _dt, keys
from .grid import Grid

_UNDEF64 = (1 << 64) - 1  # sharding index sentinel: inner chunk missing


def _undo_v2_filters(raw: bytes, filters, np_dt: str) -> bytes:
    """Invert a numcodecs v2 ``filters`` chain AFTER decompression
    (encode runs array → filters in order → compressor, so decode runs
    the inverses in REVERSE). Covered: ``delta`` (cumsum back in the
    array dtype), ``fixedscaleoffset`` (enc/scale + offset), ``quantize``
    (rounding happened at encode; decode casts astype → dtype), ``shuffle``
    (the byte transpose, shared with blosc), ``astype``. Anything else
    rejects loudly — guessing would decode wrong silently."""
    for f in reversed(filters or []):
        fid = (f or {}).get("id")
        if fid == "delta":
            dtype = np.dtype(f.get("dtype", np_dt))
            astype = np.dtype(f.get("astype") or f.get("dtype", np_dt))
            enc = np.frombuffer(raw, astype)
            raw = np.cumsum(enc, dtype=dtype).tobytes()
        elif fid == "fixedscaleoffset":
            dtype = np.dtype(f["dtype"])
            astype = np.dtype(f.get("astype") or f["dtype"])
            enc = np.frombuffer(raw, astype)
            raw = ((enc / f["scale"]) + f["offset"]).astype(dtype).tobytes()
        elif fid == "quantize":
            # rounding happened at encode; but numcodecs Quantize stores
            # as ``astype`` — when that differs from dtype the decode is
            # view-as-astype → cast back (identity only when equal)
            dtype = np.dtype(f["dtype"])
            astype = np.dtype(f.get("astype") or f["dtype"])
            if astype != dtype:
                raw = np.frombuffer(raw, astype).astype(dtype).tobytes()
        elif fid == "shuffle":
            raw = _bl._unshuffle(raw, int(f.get("elementsize", 4)))
        elif fid == "astype":
            enc = np.frombuffer(raw, np.dtype(f["encode_dtype"]))
            raw = enc.astype(np.dtype(f["decode_dtype"])).tobytes()
        else:
            raise NotImplementedError(
                f"numcodecs filter {fid!r} (delta, fixedscaleoffset, "
                "quantize, shuffle and astype decode)")
    return raw


def _v2_stored_itemsize(filters, itemsize: int) -> int:
    """Per-element byte width AFTER the filter chain ran forward — the
    width the compressed stream decodes to (``astype`` filters change
    it)."""
    for f in filters or []:
        fid = (f or {}).get("id")
        if fid in ("delta", "fixedscaleoffset", "quantize") and f.get("astype"):
            itemsize = np.dtype(f["astype"]).itemsize
        elif fid == "astype":
            itemsize = np.dtype(f["encode_dtype"]).itemsize
    return itemsize


def _v2_decoder(comp: "dict | None"):
    """zarr v2 ``compressor`` metadata → ``callable(bytes, nout) ->
    bytes`` (None for raw chunks). Supported ids: numcodecs ``zlib`` /
    ``gzip`` (stdlib), ``zstd`` (raw frame), ``lz4`` (u32le size header +
    block, the numcodecs layout), ``blosc`` (the c-blosc chunk container,
    ``pyramids_spark.blosc``). Raises NotImplementedError otherwise."""
    if comp is None:
        return None
    cid = comp.get("id")
    if cid in ("zlib", "gzip", "zstd"):
        return lambda b, n, _c=cid: _bl.raw_decompress(_c, b, n)
    if cid == "lz4":
        def _lz4(b, n):
            import struct

            (sz,) = struct.unpack_from("<I", b, 0)
            if sz != n:
                raise ValueError(
                    f"lz4 chunk header says {sz} bytes, expected {n}"
                )
            return _bl.raw_decompress("lz4", b[4:], n)

        return _lz4
    if cid == "blosc":
        return lambda b, n: _bl.decode_blosc(b)
    raise NotImplementedError(
        f"unsupported zarr v2 compressor {comp!r} (supported: null, zlib, "
        "gzip, zstd, lz4, blosc[lz4/lz4hc/zlib/zstd/snappy])"
    )


def _v3_decoder(tail: "list[dict]"):
    """zarr v3 codec objects AFTER the ``bytes`` codec → ``callable(
    bytes, nout) -> bytes`` (None when the pipeline is bytes-only).
    Supported: ``gzip``, ``zstd``, ``blosc``."""
    if not tail:
        return None
    if len(tail) != 1:
        raise NotImplementedError(
            f"zarr v3 codec pipelines past bytes + one compressor are out "
            f"of scope (got {[c.get('name') for c in tail]})"
        )
    name = tail[0].get("name")
    if name in ("gzip", "zstd"):
        return lambda b, n, _c=name: _bl.raw_decompress(_c, b, n)
    if name == "blosc":
        return lambda b, n: _bl.decode_blosc(b)
    raise NotImplementedError(
        f"unsupported zarr v3 codec {name!r} (supported: gzip, zstd, "
        "blosc[lz4/lz4hc/zlib/zstd/snappy])"
    )


def _make_encoder(
    zarr_format: int, codec: "str | None", compress: "int | None",
    itemsize: int,
):
    """Write-side codec choice → ``(meta, callable(bytes) -> bytes)``.
    ``meta`` is the v2 ``compressor`` object or the v3 codec object (None
    for raw). ``codec`` names the stream: v2 ``zlib`` (default) / ``zstd``
    / ``lz4`` / ``blosc:<cname>``; v3 ``gzip`` (default) / ``zstd`` /
    ``blosc:<cname>``; blosc writes byte-shuffled chunks with
    ``typesize=itemsize``. ``compress`` is the level (None + no codec =
    raw chunks; None + codec = level 5)."""
    if codec is None and compress is None:
        return None, None
    lvl = 5 if compress is None else int(compress)
    if codec is None:
        codec = "zlib" if zarr_format == 2 else "gzip"
    if codec.startswith("blosc:"):
        parts = codec.split(":")
        cn, shuf = parts[1], 1
        if len(parts) == 3:
            if parts[2] != "bitshuffle":
                raise NotImplementedError(
                    f"blosc codec suffix {parts[2]!r} (only 'bitshuffle')")
            shuf = 2
        elif len(parts) > 3:
            raise NotImplementedError(f"blosc codec spec {codec!r}")
        if cn not in ("blosclz", "lz4", "lz4hc", "zlib", "zstd", "snappy"):
            raise NotImplementedError(f"blosc cname {cn!r} unsupported")
        enc = lambda b: _bl.encode_blosc(b, itemsize, cn, lvl, shuffle=shuf)  # noqa: E731
        if zarr_format == 2:
            meta = {"id": "blosc", "cname": cn, "clevel": lvl,
                    "shuffle": shuf, "blocksize": 0}
        else:
            meta = {"name": "blosc", "configuration": {
                "cname": cn, "clevel": lvl,
                "shuffle": "bitshuffle" if shuf == 2 else "shuffle",
                "typesize": itemsize, "blocksize": 0}}
        return meta, enc
    if zarr_format == 2:
        if codec == "zlib":
            return {"id": "zlib", "level": lvl}, \
                lambda b: _bl.raw_compress("zlib", b, lvl)
        if codec == "zstd":
            return {"id": "zstd", "level": lvl}, \
                lambda b: _bl.raw_compress("zstd", b, lvl)
        if codec == "lz4":
            import struct as _st

            return {"id": "lz4", "acceleration": 1}, \
                lambda b: _st.pack("<I", len(b)) + _bl.raw_compress("lz4", b)
        raise NotImplementedError(
            f"zarr v2 write codec {codec!r} (zlib, zstd, lz4, blosc:<cname>)"
        )
    if codec == "gzip":
        return {"name": "gzip", "configuration": {"level": lvl}}, \
            lambda b: _bl.raw_compress("gzip", b, lvl)
    if codec == "zstd":
        return {"name": "zstd",
                "configuration": {"level": lvl, "checksum": False}}, \
            lambda b: _bl.raw_compress("zstd", b, lvl)
    raise NotImplementedError(
        f"zarr v3 write codec {codec!r} (gzip, zstd, blosc:<cname>)"
    )


def _clear_array_store(path: str) -> None:
    """Remove a PRIOR write's node documents and chunk payloads at this
    directory LEVEL before rewriting it as an array: absent cells are
    absent FILES in a zarr store, so a rewrite that leaves old chunks
    (same format with a different chunk set, or another format's
    differently-named files) silently mixes stale data into every later
    read. Both group markers go too — an array write over a prior group
    root would otherwise keep dispatching reads to stale children.
    Child directories (sibling arrays of a group) are untouched."""
    import re
    import shutil

    for nm in (".zarray", ".zattrs", "zarr.json", ".zgroup", ".zmetadata"):
        p = os.path.join(path, nm)
        if os.path.exists(p):
            os.remove(p)
    c = os.path.join(path, "c")
    if os.path.isdir(c):
        shutil.rmtree(c)
    for nm in os.listdir(path):
        p = os.path.join(path, nm)
        if os.path.isfile(p) and re.fullmatch(r"[0-9]+(\.[0-9]+)*", nm):
            os.remove(p)


def _clear_group_store(path: str) -> None:
    """Dataset write mode "w": remove EVERY zarr artifact of a prior
    write at ``path`` — root documents (group or array, parseable or
    not) and child node directories — so a rewrite cannot mix stale
    variables, chunks, or georeferencing attrs into reads (the xarray
    ``to_zarr(mode="w")`` contract). Non-zarr files and directories
    survive; existence checks only, so truncated documents from a
    crashed write cannot block the cleanup."""
    import shutil

    _clear_array_store(path)  # root docs (any kind/state) + root chunks
    for child in os.listdir(path):
        sub = os.path.join(path, child)
        if os.path.isdir(sub) and (
            os.path.exists(os.path.join(sub, ".zarray"))
            or os.path.exists(os.path.join(sub, "zarr.json"))
            or os.path.exists(os.path.join(sub, ".zgroup"))
        ):
            shutil.rmtree(sub)


def _crc32c_table() -> np.ndarray:
    t = np.zeros(256, np.uint32)
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        t[i] = c
    return t


_CRC32C = _crc32c_table()


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected) — the zarr v3 ``crc32c`` codec.
    Sequential per byte, but it only ever runs over shard INDEX footers
    (16 bytes per inner chunk), never chunk payloads."""
    crc = 0xFFFFFFFF
    for byte in data:
        crc = (crc >> 8) ^ int(_CRC32C[(crc ^ byte) & 0xFF])
    return crc ^ 0xFFFFFFFF


def write_zarr(
    cells_df: DataFrame, grid: Grid, path: str, chunks: tuple[int, int] = (256, 256),
    compress: "int | None" = None, dtype: str = "float64",
    zarr_format: int = 2, shards: "tuple[int, int] | None" = None,
    codec: "str | None" = None,
) -> pd.DataFrame:
    """Write the cell table as a zarr array ``[bands, rows, cols]`` (band
    chunk size 1). ``zarr_format`` 2 writes ``.zarray``/``.zattrs`` +
    flat ``b.i.j`` chunks; 3 writes ``zarr.json`` + nested ``c/b/i/j``
    chunks. ``compress`` = level 1-9, None for raw chunks (unless
    ``codec`` is set, which implies level 5). ``codec`` picks the chunk
    stream: v2 ``zlib`` (default) / ``zstd`` / ``lz4`` / ``blosc:<cname>``;
    v3 ``gzip`` (default) / ``zstd`` / ``blosc:<cname>`` — blosc cnames
    ``lz4/lz4hc/zlib/zstd/snappy``, written byte-shuffled.
    ``shards`` (v3 only) wraps chunks in the ``sharding_indexed`` codec:
    one FILE per shard holding the inner chunks plus an end-located
    (offset, nbytes) uint64 index with a crc32c footer — the
    object-store-friendly layout (file count drops by the shard/chunk
    ratio; absent inner chunks store the missing sentinel). ``dtype`` is
    the STORAGE dtype (``pyramids_spark.dtypes``; reference GDAL table
    ``base/_utils.py:16-56``) — integer stores need a representable
    nodata and integral in-range values. Returns the chunk manifest as
    pandas ``(band, ci, cj, n_cells, n_bytes, file)`` (shard ids when
    sharded)."""
    if zarr_format not in (2, 3):
        raise ValueError(f"zarr_format must be 2 or 3, got {zarr_format}")
    ch, cw = int(chunks[0]), int(chunks[1])
    if shards is not None:
        sh, sw = int(shards[0]), int(shards[1])
        if zarr_format != 3:
            raise ValueError("shards requires zarr_format=3")
        if sh % ch or sw % cw:
            raise ValueError(
                f"shard shape {(sh, sw)} must be a multiple of the chunk "
                f"shape {(ch, cw)}"
            )
    rows, cols = grid.rows, grid.cols
    dt_name = _dt.resolve(dtype)
    fill = _dt.check_fill(dt_name, grid.nodata)
    comp_meta, enc = _make_encoder(
        zarr_format, codec, compress, _dt.np_dtype(dt_name).itemsize
    )
    os.makedirs(path, exist_ok=True)
    _clear_array_store(path)
    n_bands_row = cells_df.select(F.max("band").alias("m")).collect()[0]
    n_bands = int(n_bands_row["m"]) + 1 if n_bands_row["m"] is not None else 1
    fill_json = (
        "NaN" if math.isnan(fill)
        else (fill if _dt.is_float(dt_name) else int(fill))
    )
    attrs = {"x0": grid.x0, "y0": grid.y0, "cell": grid.cell,
             "epsg": grid.epsg, "nodata": grid.nodata}
    if zarr_format == 2:
        meta = {
            "zarr_format": 2,
            "shape": [n_bands, rows, cols],
            "chunks": [1, ch, cw],
            "dtype": _dt.TO_ZARR[dt_name],
            "compressor": comp_meta,
            "fill_value": fill_json,
            "order": "C",
            "filters": None,
        }
        with open(os.path.join(path, ".zarray"), "w") as f:
            json.dump(meta, f)
        with open(os.path.join(path, ".zattrs"), "w") as f:
            json.dump(attrs, f)
    else:
        codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
        if comp_meta is not None:
            codecs.append(comp_meta)
        if shards is not None:
            codecs = [{
                "name": "sharding_indexed",
                "configuration": {
                    "chunk_shape": [1, ch, cw],
                    "codecs": codecs,
                    "index_codecs": [
                        {"name": "bytes",
                         "configuration": {"endian": "little"}},
                        {"name": "crc32c"},
                    ],
                    "index_location": "end",
                },
            }]
        grid_chunk = [1, ch, cw] if shards is None else [1, sh, sw]
        meta = {
            "zarr_format": 3,
            "node_type": "array",
            "shape": [n_bands, rows, cols],
            "data_type": dt_name,
            "chunk_grid": {"name": "regular",
                           "configuration": {"chunk_shape": grid_chunk}},
            "chunk_key_encoding": {"name": "default",
                                   "configuration": {"separator": "/"}},
            "fill_value": fill_json,
            "codecs": codecs,
            "attributes": attrs,
            "dimension_names": ["band", "y", "x"],
        }
        with open(os.path.join(path, "zarr.json"), "w") as f:
            json.dump(meta, f)

    def _unpack(pdf: pd.DataFrame) -> pd.DataFrame:
        rr, cc = keys.unpack_rc_np(pdf["rc"].to_numpy(np.int64))
        keys.check_extent(rr, cc, rows, cols)
        return pd.DataFrame(
            {"row": rr, "col": cc, "value": pdf["value"].to_numpy(np.float64)}
        )

    def write_chunks(key, pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(key[0])
        ci, cj, r0, c0, _, _ = keys.tile_window(key[1], ch, cw, rows, cols)
        pdf = _unpack(pdf)
        block = _blocks.dense_block(pdf, ch, cw, r0, c0, fill)
        data = _dt.cast_block(block, dt_name).tobytes(order="C")
        if zarr_format == 2:
            name = f"{b}.{ci}.{cj}"
        else:
            name = f"c/{b}/{ci}/{cj}"
            os.makedirs(os.path.join(path, f"c/{b}/{ci}"), exist_ok=True)
        if enc is not None:
            data = enc(data)
        with open(os.path.join(path, name), "wb") as f:
            f.write(data)
        return pd.DataFrame(
            {"band": [b], "ci": [ci], "cj": [cj], "n_cells": [len(pdf)],
             "n_bytes": [len(data)], "file": [name]}
        )

    def write_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import struct

        b = int(key[0])
        si, sj, r0, c0, _, _ = keys.tile_window(key[1], sh, sw, rows, cols)
        pdf = _unpack(pdf)
        niy, nix = sh // ch, sw // cw
        index = np.full((niy * nix, 2), _UNDEF64, np.uint64)
        blobs, cur = [], 0
        grp = pdf.groupby(
            [(pdf["row"] - r0) // ch, (pdf["col"] - c0) // cw], sort=True
        )
        for (ici, icj), sub in grp:
            block = _blocks.dense_block(
                sub, ch, cw, r0 + int(ici) * ch, c0 + int(icj) * cw, fill
            )
            data = _dt.cast_block(block, dt_name).tobytes(order="C")
            if enc is not None:
                data = enc(data)
            index[int(ici) * nix + int(icj)] = (cur, len(data))
            blobs.append(data)
            cur += len(data)
        ib = index.astype("<u8").tobytes()
        body = b"".join(blobs) + ib + struct.pack("<I", _crc32c(ib))
        name = f"c/{b}/{si}/{sj}"
        os.makedirs(os.path.join(path, f"c/{b}/{si}"), exist_ok=True)
        with open(os.path.join(path, name), "wb") as f:
            f.write(body)
        return pd.DataFrame(
            {"band": [b], "ci": [si], "cj": [sj], "n_cells": [len(pdf)],
             "n_bytes": [len(body)], "file": [name]}
        )

    div_r, div_c = (ch, cw) if shards is None else (sh, sw)
    # packed shuffle keys (guide §2.3, keys.py): the cell key rc and the
    # dense chunk/shard key cid replace four longs; the write tasks decode
    # rc exactly and fail loudly on a cell outside the grid
    keyed = cells_df.where(F.col("value").isNotNull()).select(
        "band",
        keys.pack_rc("row", "col").alias("rc"),
        "value",
        keys.tile_key("row", "col", div_r, div_c,
                      keys.n_tiles(rows, cols, div_r, div_c)[1]).alias("cid"),
    )
    manifest = (
        keyed.groupBy("band", "cid")
        .applyInPandas(
            write_chunks if shards is None else write_shard,
            schema="band long, ci long, cj long, n_cells long, n_bytes long, file string",
        )
        .toPandas()
        .sort_values(["band", "ci", "cj"])
        .reset_index(drop=True)
    )
    return manifest


def _consolidated(path: str) -> "dict | None":
    """The v2 ``.zmetadata`` consolidated document's ``metadata`` map
    (``{"x/.zarray": {...}, ...}``), or None. One driver-side GET covers
    the whole group — on an object store that replaces the N LIST/GET
    round trips a per-directory walk costs."""
    try:
        with open(os.path.join(path, ".zmetadata")) as f:
            doc = json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        return None
    if doc.get("zarr_consolidated_format") != 1:
        return None
    return doc.get("metadata") or {}


def _v3_consolidated(path: str) -> "dict | None":
    """zarr v3 inline consolidated metadata: the root group ``zarr.json``
    may carry ``consolidated_metadata.metadata`` mapping relative node
    paths to their full ``zarr.json`` documents (zarr-python 3's
    ``consolidate_metadata``). Returns that map or None."""
    try:
        with open(os.path.join(path, "zarr.json")) as f:
            doc = json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        return None
    cm = doc.get("consolidated_metadata") or {}
    if cm.get("kind") != "inline":  # spec-required; foreign docs distrust
        return None
    return cm.get("metadata")


def _v2_child_arrays(cons: dict) -> "list[str]":
    """DIRECT child array names of a v2 consolidated document —
    nested-group keys ("grp/inner/.zarray") are not this group's."""
    return sorted(k[:-len("/.zarray")] for k in cons
                  if k.endswith("/.zarray") and len(k.split("/")) == 2)


def _v3_child_arrays(cons3: dict) -> "list[str]":
    """DIRECT child array names of a v3 inline consolidated document."""
    return sorted(k for k, doc in cons3.items()
                  if "/" not in k and doc.get("node_type") == "array")


def consolidate_metadata_v3(path: str) -> dict:
    """Inline every child node's ``zarr.json`` into the root group
    document's ``consolidated_metadata`` (the zarr-python 3 layout) —
    the v3 twin of :func:`consolidate_metadata`. A MIXED group (any v2
    ``.zarray`` child, e.g. from an earlier-format write into the same
    directory) gets NO consolidated document — it could not represent
    the v2 children, so discovery must stay with the directory walk.
    Returns the root doc."""
    meta, mixed = {}, False
    for child in sorted(os.listdir(path)):
        p = os.path.join(path, child, "zarr.json")
        if os.path.exists(p):
            try:
                with open(p) as f:
                    meta[child] = json.load(f)
            except (json.JSONDecodeError, UnicodeDecodeError):
                continue  # a corrupt stale child can't block THIS write
        elif os.path.exists(os.path.join(path, child, ".zarray")):
            mixed = True
    root_p = os.path.join(path, "zarr.json")
    with open(root_p) as f:
        root = json.load(f)
    if mixed:
        root.pop("consolidated_metadata", None)
    else:
        root["consolidated_metadata"] = {
            "kind": "inline", "must_understand": False, "metadata": meta,
        }
    with open(root_p, "w") as f:
        json.dump(root, f)
    return root


def consolidate_metadata(path: str) -> dict:
    """Write a zarr v2 group's ``.zmetadata`` (consolidated-format 1:
    every ``.zgroup``/``.zattrs``/``.zarray`` document inlined under its
    store key) — what ``xarray.open_zarr(consolidated=True)`` and
    zarr-python's ``open_consolidated`` read. Returns the document."""
    meta = {}
    for nm in (".zgroup", ".zattrs"):
        p = os.path.join(path, nm)
        if os.path.exists(p):
            with open(p) as f:
                meta[nm] = json.load(f)
    for child in sorted(os.listdir(path)):
        sub = os.path.join(path, child)
        if not os.path.isdir(sub):
            continue
        try:
            for nm in (".zarray", ".zattrs"):
                p = os.path.join(sub, nm)
                if os.path.exists(p):
                    with open(p) as f:
                        meta[f"{child}/{nm}"] = json.load(f)
        except (json.JSONDecodeError, UnicodeDecodeError):
            meta.pop(f"{child}/.zarray", None)  # corrupt stale child
            meta.pop(f"{child}/.zattrs", None)
    doc = {"zarr_consolidated_format": 1, "metadata": meta}
    with open(os.path.join(path, ".zmetadata"), "w") as f:
        json.dump(doc, f)
    return doc


def list_zarr_arrays(path: str) -> "list[str]":
    """Child ARRAY names of a zarr GROUP store (v2 ``.zgroup`` or v3
    group-node ``zarr.json``) — the layout xarray/netCDF-style stores
    use, one array per variable. Driver-only metadata: the consolidated
    ``.zmetadata`` answers in one read when present."""
    cons = _consolidated(path)
    if cons is not None:
        return _v2_child_arrays(cons)
    cons3 = _v3_consolidated(path)
    if cons3 is not None:
        return _v3_child_arrays(cons3)
    out = []
    for name in sorted(os.listdir(path)):
        sub = os.path.join(path, name)
        if not os.path.isdir(sub):
            continue
        v3 = os.path.join(sub, "zarr.json")
        if os.path.exists(os.path.join(sub, ".zarray")):
            out.append(name)
        elif os.path.exists(v3):
            with open(v3) as f:
                if json.load(f).get("node_type") == "array":
                    out.append(name)
    return out


def read_zarr(
    spark: SparkSession, path: str, array: "str | None" = None,
) -> tuple[DataFrame, Grid]:
    """Open a zarr store → (cell table, Grid): v3 when ``zarr.json`` is
    present, else v2 via ``.zarray``. GROUP stores (v2 ``.zgroup`` / v3
    group node — the xarray per-variable layout) open one child array:
    ``array`` names it, or the single child when there is exactly one
    (loud otherwise; see :func:`list_zarr_arrays`). Supported chunks:
    raw / zlib / gzip / zstd / lz4 / blosc (v2), raw / gzip / zstd /
    blosc / sharding (v3), band-chunk 1. Chunks are
    scanned with the ``binaryFile`` source — a distributed read, no
    driver loop; fill cells drop (absent-row nodata contract)."""
    v3_meta = os.path.join(path, "zarr.json")
    is_group = os.path.exists(os.path.join(path, ".zgroup"))
    if not is_group and os.path.exists(v3_meta):
        with open(v3_meta) as f:
            is_group = json.load(f).get("node_type") == "group"
    if is_group:
        names = list_zarr_arrays(path)
        if array is None:
            if len(names) != 1:
                raise ValueError(
                    f"group store holds arrays {names} — pass array= to "
                    "pick one"
                )
            array = names[0]
        if array not in names:
            raise ValueError(f"no array {array!r} in group (have {names})")
        return read_zarr(spark, os.path.join(path, array))
    if array is not None:
        raise ValueError("array= only applies to group stores")
    if os.path.exists(v3_meta):
        return _read_zarr_v3(spark, path)
    with open(os.path.join(path, ".zarray")) as f:
        meta = json.load(f)
    comp = meta.get("compressor")
    dt_name = _dt.FROM_ZARR.get(str(meta.get("dtype")))
    if len(meta.get("shape", [])) == 2:  # 2-D array ≙ one implicit band
        meta["shape"] = [1] + list(meta["shape"])
        meta["chunks"] = [1] + list(meta.get("chunks", []))
    if (
        meta.get("zarr_format") != 2
        or dt_name is None
        or meta.get("order") != "C"
        or meta.get("chunks", [0])[0] < 1
    ):
        raise NotImplementedError(
            "supported zarr stores: v2, little-endian "
            f"{sorted(_dt.TABLE)} dtypes, C-order, band-chunk 1 "
            f"(got {meta})"
        )
    dec = _v2_decoder(comp)  # raw/zlib/gzip/zstd/lz4/blosc chunk streams
    filts = meta.get("filters") or []
    np_dt_str = str(_dt.np_dtype(dt_name).str)
    itemsize = _v2_stored_itemsize(filts, _dt.np_dtype(dt_name).itemsize)
    n_bands, rows, cols = meta["shape"]
    cb, ch, cw = meta["chunks"]
    fv = meta.get("fill_value")
    fill = float("nan") if fv in (None, "NaN") else float(fv)
    try:
        with open(os.path.join(path, ".zattrs")) as f:
            attrs = json.load(f)
    except FileNotFoundError:
        attrs = {}
    grid = Grid(
        x0=float(attrs.get("x0", 0.0)), y0=float(attrs.get("y0", 0.0)),
        cell=float(attrs.get("cell", 1.0)), rows=rows, cols=cols,
        epsg=int(attrs.get("epsg", 4326)), nodata=attrs.get("nodata"),
    )

    def decode(batches):
        def chunks():
            for pdf in batches:
                for p, content in zip(pdf["path"], pdf["content"]):
                    name = os.path.basename(p)
                    toks = [int(t) for t in name.split(".")]
                    b, ci, cj = toks if len(toks) == 3 else [0] + toks
                    if dec is not None:
                        content = dec(content, cb * ch * cw * itemsize)
                    if filts:
                        content = _undo_v2_filters(content, filts,
                                                   np_dt_str)
                    cube = (
                        np.frombuffer(content, dtype=np_dt_str)
                        .reshape(cb, ch, cw)
                        .astype("<f8")  # widen stored dtype → float64
                    )
                    for j in range(cb):  # leading dim may be chunked > 1
                        if b * cb + j >= n_bands:
                            break  # edge chunk padding past the extent
                        yield _blocks.sparse_cells(
                            cube[j], b * cb + j, ci * ch,
                            cj * cw, rows, cols, fill)

        yield from _blocks.bounded_concat(chunks())

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "[0-9]*.*")  # b.i.j or 2-D i.j
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(decode, "band long, row long, col long, value double"), grid


def _read_zarr_v3(spark: SparkSession, path: str) -> tuple[DataFrame, Grid]:
    """v3 array store: ``zarr.json`` metadata, ``bytes`` (+ optional
    ``gzip``) codec pipeline, "default" or "v2" chunk key encoding with
    either separator — indices parse from the trailing numeric path
    tokens, which covers all four layouts uniformly."""
    import re

    with open(os.path.join(path, "zarr.json")) as f:
        meta = json.load(f)
    cg = meta.get("chunk_grid") or {}
    cshape = (cg.get("configuration") or {}).get("chunk_shape", [])
    if len(meta.get("shape", [])) == 2:  # 2-D array ≙ one implicit band
        meta["shape"] = [1] + list(meta["shape"])
        cshape = [1] + list(cshape)
        (cg.get("configuration") or {})["chunk_shape"] = cshape
    codecs = meta.get("codecs") or []
    names = [c.get("name") for c in codecs]
    dt = str(meta.get("data_type"))
    shard = None  # (inner_ch, inner_cw, index_has_crc, index_at_end)
    if names[:1] == ["sharding_indexed"] and len(names) == 1:
        cfg = codecs[0].get("configuration") or {}
        inner = cfg.get("chunk_shape", [])
        idx_names = [c.get("name") for c in cfg.get("index_codecs") or []]
        payload = cfg.get("codecs") or []
        names = [c.get("name") for c in payload]
        shard_ok = (
            len(inner) == 3 and inner[0] == 1
            and len(cshape) == 3
            and cshape[1] % inner[1] == 0 and cshape[2] % inner[2] == 0
            and idx_names in (["bytes"], ["bytes", "crc32c"])
            and cfg.get("index_location", "end") in ("end", "start")
        )
        if shard_ok:
            shard = (inner[1], inner[2], idx_names == ["bytes", "crc32c"],
                     cfg.get("index_location", "end") == "end")
            codecs = payload  # endian resolves from the inner bytes codec
    ok = (
        meta.get("zarr_format") == 3
        and meta.get("node_type") == "array"
        and cg.get("name") == "regular"
        and len(meta.get("shape", [])) == 3
        and len(cshape) == 3
        and (cshape[0] == 1 if shard else cshape[0] >= 1)
        and dt in _dt.TABLE
        and names[:1] == ["bytes"]
        and (meta.get("chunk_key_encoding") or {}).get("name")
        in (None, "default", "v2")
    )
    if not ok:
        raise NotImplementedError(
            "supported zarr v3 stores: array node, regular 3-D chunk grid "
            "with band-chunk 1, bytes [+ gzip/zstd/blosc] codecs — directly "
            "or inside sharding_indexed with a bytes[+crc32c] index, "
            f"{sorted(_dt.TABLE)} dtypes, default/v2 chunk keys "
            f"(got {meta})"
        )
    dec = _v3_decoder(codecs[1:])  # gzip/zstd/blosc or bytes-only
    endian = (codecs[0].get("configuration") or {}).get("endian", "little")
    np_dt_str = ("<" if endian == "little" else ">") + _dt.TABLE[dt][0].lstrip("<|")
    itemsize = _dt.np_dtype(dt).itemsize
    n_bands, rows, cols = meta["shape"]
    cb, ch, cw = cshape
    fv = meta.get("fill_value")
    # JSON floats plus the spec's "NaN"/"Infinity"/"-Infinity" strings
    fill = float("nan") if fv is None else float(fv)
    attrs = meta.get("attributes") or {}
    grid = Grid(
        x0=float(attrs.get("x0", 0.0)), y0=float(attrs.get("y0", 0.0)),
        cell=float(attrs.get("cell", 1.0)), rows=rows, cols=cols,
        epsg=int(attrs.get("epsg", 4326)), nodata=attrs.get("nodata"),
    )

    def unchunk(content, dims):
        if dec is not None:
            content = dec(content, int(np.prod(dims)) * itemsize)
        return (
            np.frombuffer(content, dtype=np_dt_str)
            .reshape(dims)
            .astype("<f8")
        )

    def decode(batches):
        import struct

        def chunks():
            for pdf in batches:
                for p, content in zip(pdf["path"], pdf["content"]):
                    raw_toks = re.split(r"[/.]", p)
                    toks = []
                    while (raw_toks and raw_toks[-1].isdigit()
                           and len(toks) < 3):
                        toks.insert(0, int(raw_toks.pop()))
                    b, ci, cj = toks if len(toks) == 3 else [0] + toks
                    if shard is None:
                        cube = unchunk(content, (cb, ch, cw))
                        for j in range(cb):  # leading dim chunked > 1
                            if b * cb + j >= n_bands:
                                break
                            yield _blocks.sparse_cells(
                                cube[j], b * cb + j, ci * ch,
                                cj * cw, rows, cols, fill
                            )
                        continue
                    ich, icw, crc, at_end = shard
                    niy, nix = ch // ich, cw // icw
                    ilen = 16 * niy * nix + (4 if crc else 0)
                    ib = content[-ilen:] if at_end else content[:ilen]
                    if crc:
                        (stored,) = struct.unpack("<I", ib[-4:])
                        ib = ib[:-4]
                        if _crc32c(ib) != stored:
                            raise ValueError(
                                "crc32c mismatch in zarr shard index"
                            )
                    index = np.frombuffer(ib, "<u8").reshape(-1, 2)
                    for k in range(niy * nix):
                        off, nb = int(index[k, 0]), int(index[k, 1])
                        if off == _UNDEF64:  # missing inner = all fill
                            continue
                        yield _blocks.sparse_cells(
                            unchunk(content[off:off + nb], (ich, icw)), b,
                            ci * ch + (k // nix) * ich,
                            cj * cw + (k % nix) * icw, rows, cols, fill
                        )

        yield from _blocks.bounded_concat(chunks())

    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "[0-9c]*")  # chunk leaves; not zarr.json
        .load(path)
        .select("path", "content")
    )
    return (
        files.mapInPandas(decode, "band long, row long, col long, value double"),
        grid,
    )


# ---------------------------------------------------------------------------
# CF / xarray-style DATASET stores: a group of per-variable arrays plus 1-D
# coordinate arrays (v2 `_ARRAY_DIMENSIONS`, v3 `dimension_names`) — the
# layout `xarray.Dataset.to_zarr` and the GDAL multi-var Zarr driver emit.
# ---------------------------------------------------------------------------


def _array_meta(sub: str) -> dict:
    """Driver-side metadata of one array node: shape, dimension names,
    dtype name, compression, attrs, format version."""
    v3p = os.path.join(sub, "zarr.json")
    if os.path.exists(v3p):
        with open(v3p) as f:
            m = json.load(f)
        return _v3_meta_dict(m)
    with open(os.path.join(sub, ".zarray")) as f:
        m = json.load(f)
    try:
        with open(os.path.join(sub, ".zattrs")) as f:
            a = json.load(f)
    except FileNotFoundError:
        a = {}
    return _v2_meta_dict(m, a)


def _v3_meta_dict(m: dict) -> dict:
    return {
        "v3": True, "shape": m["shape"],
        "dims": m.get("dimension_names"),
        "dtype": str(m.get("data_type")),
        "codecs": m.get("codecs") or [],
        "chunks": (m.get("chunk_grid") or {}).get(
            "configuration", {}).get("chunk_shape", []),
        "attrs": m.get("attributes") or {},
    }


def _v2_meta_dict(m: dict, a: dict) -> dict:
    return {
        "v3": False, "shape": m["shape"],
        "dims": a.get("_ARRAY_DIMENSIONS"),
        "dtype": _dt.FROM_ZARR.get(str(m.get("dtype"))),
        "compressor": m.get("compressor"),
        "filters": m.get("filters") or [],
        "chunks": m.get("chunks", []), "attrs": a,
    }


def _read_coord(sub: str) -> np.ndarray:
    """Fully read a 1-D array node DRIVER-side (coordinate variables are
    KB-scale) → float64 values."""
    m = _array_meta(sub)
    if len(m["shape"]) != 1 or m["dtype"] not in _dt.TABLE:
        raise NotImplementedError(
            f"coordinate array at {sub}: need a 1-D array of "
            f"{sorted(_dt.TABLE)} (got shape {m['shape']})"
        )
    n, (c,) = m["shape"][0], m["chunks"]
    np_dt = ("<" + _dt.TABLE[m["dtype"]][0].lstrip("<|")) if m["v3"] \
        else str(_dt.np_dtype(m["dtype"]).str)
    dec = (_v3_decoder((m["codecs"] or [{}])[1:]) if m["v3"]
           else _v2_decoder(m["compressor"]))
    filts = [] if m["v3"] else m.get("filters") or []
    itemsize = _v2_stored_itemsize(filts, np.dtype(np_dt).itemsize)
    parts = []
    for k in range(-(-n // c)):
        name = os.path.join(sub, f"c/{k}" if m["v3"] else str(k))
        with open(name, "rb") as fh:
            raw = fh.read()
        if dec is not None:
            raw = dec(raw, c * itemsize)
        if filts:
            raw = _undo_v2_filters(raw, filts, np_dt)
        parts.append(np.frombuffer(raw, np_dt))
    return np.concatenate(parts)[:n].astype("<f8")


def read_zarr_dataset(
    spark: SparkSession, path: str,
) -> "tuple[DataFrame, Grid, dict]":
    """Open a CF/xarray-style zarr GROUP → (long cell table ``(variable,
    t, band, row, col, value)``, Grid, meta) — the same surface as the
    NetCDF readers. Data variables are the 2-D ``(y, x)`` / 3-D
    ``(time, y, x)`` arrays (dimension names required); 1-D arrays named
    after their dimension are coordinates. Georeferencing: the group's
    x0/y0/cell attrs when present, else DERIVED from the y/x coordinate
    variables (ascending-y flips, like the NetCDF readers — shared
    ``netcdf.derive_grid``). Each variable reads through the distributed
    chunk scan; coordinates read driver-side."""
    from . import netcdf as _nc

    cons = _consolidated(path)
    if cons is not None:  # one metadata read covers the whole group
        names = _v2_child_arrays(cons)
        metas = {n: _v2_meta_dict(cons[f"{n}/.zarray"],
                                  cons.get(f"{n}/.zattrs") or {})
                 for n in names}
    else:
        cons3 = _v3_consolidated(path)
        if cons3 is not None:
            names = _v3_child_arrays(cons3)
            metas = {n: _v3_meta_dict(cons3[n]) for n in names}
        else:
            names = list_zarr_arrays(path)
            metas = {n: _array_meta(os.path.join(path, n)) for n in names}
    coords = {n for n, m in metas.items()
              if len(m["shape"]) == 1 and m["dims"] in (None, [n])}
    data = {n: m for n, m in metas.items()
            if n not in coords and len(m["shape"]) in (2, 3)}
    if not data:
        raise ValueError(f"no 2-D/3-D data arrays in {path} (have {names})")
    for n, m in data.items():
        if not m["dims"]:
            raise NotImplementedError(
                f"array {n!r} has no dimension names (_ARRAY_DIMENSIONS / "
                "dimension_names) — cannot identify the y/x axes"
            )
    shapes = {tuple(m["shape"][-2:]) for m in data.values()}
    if len(shapes) != 1:
        raise NotImplementedError(
            f"data variables disagree on the (y, x) shape: {shapes} — "
            "multi-resolution groups are separate datasets"
        )
    rows, cols = shapes.pop()
    d0 = next(iter(data.values()))
    ydim, xdim = d0["dims"][-2], d0["dims"][-1]
    tdim = d0["dims"][0] if len(d0["shape"]) == 3 else None
    yv = (_read_coord(os.path.join(path, ydim)) if ydim in coords else None)
    xv = (_read_coord(os.path.join(path, xdim)) if xdim in coords else None)
    times = (_read_coord(os.path.join(path, tdim)).tolist()
             if tdim and tdim in coords else None)
    # group-level attrs (v3 group node or v2 root .zattrs)
    gatts = {}
    v3p = os.path.join(path, "zarr.json")
    if os.path.exists(v3p):
        with open(v3p) as f:
            gatts = json.load(f).get("attributes") or {}
    else:
        try:
            with open(os.path.join(path, ".zattrs")) as f:
                gatts = json.load(f)
        except FileNotFoundError:
            pass
    grid, flip = _nc.derive_grid(gatts, yv, xv, rows, cols)

    out = None
    for n in sorted(data):
        df, _ = read_zarr(spark, os.path.join(path, n))
        row = (F.lit(rows - 1) - F.col("row")) if flip else F.col("row")
        part = df.select(
            F.lit(n).alias("variable"),
            F.col("band").alias("t"),
            F.lit(0).cast("long").alias("band"),
            row.alias("row"), "col", "value",
        )
        out = part if out is None else out.unionByName(part)
    meta = {
        "variables": sorted(data),
        "dims": {ydim: rows, xdim: cols,
                 **({tdim: d0["shape"][0]} if tdim else {})},
        "times": times,
        "numrecs": d0["shape"][0] if tdim else 0,
    }
    return out, grid, meta


def write_zarr_dataset(
    cells_df: DataFrame, grid: Grid, path: str,
    times: "list[float] | None" = None,
    variables: "list[str] | None" = None, dtype: str = "float64",
    compress: "int | None" = None, chunks: tuple[int, int] = (256, 256),
    zarr_format: int = 2, georef: str = "coords",
    codec: "str | None" = None, mode: str = "w",
) -> pd.DataFrame:
    """Write the long cell table ``(variable, t, row, col, value)`` as a
    CF/xarray-style zarr GROUP: one ``(time, y, x)`` array per variable
    (or ``(y, x)`` when ``times`` is None), 1-D ``y``/``x`` (+ ``time``)
    coordinate arrays, dimension names on every node — the layout xarray
    opens directly. ``georef`` "coords" georeferences via the coordinate
    variables alone (CF; descending y); "attrs" additionally stores the
    engine's x0/y0/cell on the group. ``mode`` "w" (default) REPLACES
    any prior zarr state at ``path`` (the xarray ``to_zarr(mode="w")``
    contract — stale variables/chunks/attrs of either format are
    removed); "a" adds/overwrites only the written variables, keeping
    siblings. Per-variable chunk writes run
    distributed (the :func:`write_zarr` job per variable); coordinates
    write driver-side. Returns the concatenated chunk manifest."""
    if variables is None:
        variables = sorted(
            r[0] for r in cells_df.select("variable").distinct().collect()
        )
    if mode not in ("w", "a"):
        raise ValueError(f"mode must be 'w' (replace) or 'a' (add), "
                         f"got {mode!r}")
    three_d = times is not None
    dims = ["time", "y", "x"] if three_d else ["y", "x"]
    os.makedirs(path, exist_ok=True)
    if mode == "w":
        # REPLACE: every prior zarr artifact goes (root docs of either
        # format — array, group, or corrupt — child node dirs, chunks),
        # so nothing stale can mix into later reads
        _clear_group_store(path)
    else:
        # ADD: keep sibling arrays, but never let an old-format ROOT
        # document shadow this write (per-variable dirs are cleared by
        # write_zarr itself)
        stale = os.path.join(path, ".zmetadata")
        if os.path.exists(stale):
            os.remove(stale)
        root3 = os.path.join(path, "zarr.json")
        if zarr_format == 2 and os.path.exists(root3):
            try:
                with open(root3) as f:
                    doc = json.load(f)
                keep = (isinstance(doc, dict)
                        and doc.get("node_type") == "array")
            except (json.JSONDecodeError, UnicodeDecodeError):
                keep = False  # a truncated doc from a crashed write
            if not keep:
                os.remove(root3)
    gatts = ({"x0": grid.x0, "y0": grid.y0, "cell": grid.cell,
              "epsg": grid.epsg, "nodata": grid.nodata}
             if georef == "attrs" else {"Conventions": "CF-1.6"})
    if zarr_format == 3:
        with open(os.path.join(path, "zarr.json"), "w") as f:
            json.dump({"zarr_format": 3, "node_type": "group",
                       "attributes": gatts}, f)
    else:
        with open(os.path.join(path, ".zgroup"), "w") as f:
            json.dump({"zarr_format": 2}, f)
        with open(os.path.join(path, ".zattrs"), "w") as f:
            json.dump(gatts, f)

    def write_coord(name: str, vals: np.ndarray) -> None:
        sub = os.path.join(path, name)
        os.makedirs(sub, exist_ok=True)
        _clear_array_store(sub)  # a prior other-format coord would mix
        raw = vals.astype("<f8").tobytes()
        if zarr_format == 3:
            with open(os.path.join(sub, "zarr.json"), "w") as f:
                json.dump({
                    "zarr_format": 3, "node_type": "array",
                    "shape": [len(vals)], "data_type": "float64",
                    "chunk_grid": {"name": "regular", "configuration":
                                   {"chunk_shape": [len(vals)]}},
                    "chunk_key_encoding": {"name": "default",
                                           "configuration":
                                           {"separator": "/"}},
                    "fill_value": "NaN",
                    "codecs": [{"name": "bytes",
                                "configuration": {"endian": "little"}}],
                    "attributes": {}, "dimension_names": [name],
                }, f)
            os.makedirs(os.path.join(sub, "c"), exist_ok=True)
            with open(os.path.join(sub, "c/0"), "wb") as f:
                f.write(raw)
        else:
            with open(os.path.join(sub, ".zarray"), "w") as f:
                json.dump({
                    "zarr_format": 2, "shape": [len(vals)],
                    "chunks": [len(vals)], "dtype": "<f8",
                    "compressor": None, "fill_value": "NaN",
                    "order": "C", "filters": None,
                }, f)
            with open(os.path.join(sub, ".zattrs"), "w") as f:
                json.dump({"_ARRAY_DIMENSIONS": [name]}, f)
            with open(os.path.join(sub, "0"), "wb") as f:
                f.write(raw)

    yc = grid.y0 - (np.arange(grid.rows) + 0.5) * grid.cell
    xc = grid.x0 + (np.arange(grid.cols) + 0.5) * grid.cell
    write_coord("y", yc)
    write_coord("x", xc)
    if three_d:
        write_coord("time", np.asarray(times, "<f8"))

    def patch_dims(sub: str) -> None:
        """Rename the per-variable array's dims from write_zarr's
        band/y/x to the dataset dims (2-D drops the leading axis)."""
        if zarr_format == 3:
            mp = os.path.join(sub, "zarr.json")
            with open(mp) as f:
                m = json.load(f)
            m["dimension_names"] = dims
            if not three_d:
                m["shape"] = m["shape"][1:]
                cfg = m["chunk_grid"]["configuration"]
                cfg["chunk_shape"] = cfg["chunk_shape"][1:]
            m["attributes"] = {}
            with open(mp, "w") as f:
                json.dump(m, f)
        else:
            mp = os.path.join(sub, ".zarray")
            with open(mp) as f:
                m = json.load(f)
            if not three_d:
                m["shape"] = m["shape"][1:]
                m["chunks"] = m["chunks"][1:]
            with open(mp, "w") as f:
                json.dump(m, f)
            with open(os.path.join(sub, ".zattrs"), "w") as f:
                json.dump({"_ARRAY_DIMENSIONS": dims}, f)

    manifests = []
    for v in variables:
        sub = os.path.join(path, v)
        part = cells_df.where(F.col("variable") == v).select(
            F.col("t").alias("band"), "row", "col", "value",
        )
        man = write_zarr(part, grid, sub, chunks, compress, dtype,
                         zarr_format, codec=codec)
        # 2-D layout stores chunk files as b.i.j with b=0 / c/0/i/j —
        # readers accept both, so only the METADATA needs the 2-D shape
        patch_dims(sub)
        man.insert(0, "variable", v)
        manifests.append(man)
    # consolidated metadata: the xarray/cloud-store convention — one
    # GET answers discovery instead of a LIST per directory
    if zarr_format == 2:
        consolidate_metadata(path)
    else:
        consolidate_metadata_v3(path)
    return pd.concat(manifests, ignore_index=True)
