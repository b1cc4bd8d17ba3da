"""netCDF-4 (HDF5 container) I/O in pure struct+numpy.

Reference surface: ``NetCDF.read_file`` / ``to_file``
(``/root/reference/src/pyramids/netcdf/netcdf.py:849-982`` — the
reference opens netCDF-4 through the GDAL/netcdf-c stack; tests under
``tests/netcdf/``). The HDF5 file format and the netCDF-4 mapping onto
it are both PUBLIC specs (HDF5 File Format Specification v3; the
netCDF-4 dimension-scale convention), so — like ``tiff.py``,
``zarr.py`` and ``netcdf.py`` before it — the container is implemented
directly, with no native library.

Supported subset (what netcdf-c's DEFAULT settings actually write):

- superblock version 0/1 (v2/v3 accepted too — they only move the root
  object header address);
- version-1 object headers with continuation blocks, plus version-2
  (``OHDR``) headers with compact Link messages — the two layouts real
  files use.  DENSE storage (fractal-heap groups or attributes) rejects
  loudly: that layout only appears past netcdf-c's defaults;
- old-style groups: v1 B-tree + local heap + ``SNOD`` symbol nodes;
- datatypes: fixed-point and IEEE float in either byte order, fixed
  strings, object references, and VLEN-of-reference (the
  ``DIMENSION_LIST`` type, resolved through the global heap);
- data layouts: contiguous and chunked — the v1 B-tree chunk index (any
  depth) netcdf-c defaults to, AND every 1.10 'latest'-format v4 chunk
  index: single-chunk / implicit / Fixed Array (``FAHD``/``FADB``,
  paged or not) / Extensible Array (``EAHD``/``EAIB``/``EASB``/``EADB``,
  the one-unlimited-dim layout, paged data blocks and the unlimited-dim
  swizzle included) / v2 B-tree (``BTHD``/``BTIN``/``BTLF``, any
  depth) — with the shuffle and deflate filters honoring per-chunk
  filter masks;
- dense (fractal-heap) attribute AND link storage — the 'latest'-format
  layout objects get past 8 attributes/links: ``FRHP`` root-direct-block
  heaps resolved through the type-8/type-5 name-index v2 B-trees;
- the netCDF-4 dimension-scale convention: dimensions are datasets
  tagged ``CLASS="DIMENSION_SCALE"``; each data variable carries a
  ``DIMENSION_LIST`` attribute of object references, which is how the
  reader recovers (time, y, x) axes without guessing by shape.

Distributed shape — identical to the GeoTIFF reader: the driver parses
only the KB-scale metadata (superblock, headers, chunk B-trees) and
ships a ``(variable, t, chunk, file offset, nbytes, filter mask)`` table
to executors, which read byte ranges and decode (inflate → unshuffle →
``frombuffer``) inside ``mapInPandas``. Absent chunks are fill by the
HDF5 contract, which matches the engine's absent-row nodata contract,
so they cost nothing.

The WRITER exists for the same reason ``tiff.py`` writes GeoTIFFs: the
engine's own export path plus the fixture generator for the reader
(this container has no other in-sandbox producer). Three tails share
the front-matter builder:

- serial driver stream (default): chunks build and deflate DISTRIBUTED,
  then stream ordered through the driver at O(chunk) memory;
- ``parallel=True`` + uncompressed + fixed-array: every chunk address
  is plan-time-known — executors ``pwrite`` directly (single pass);
- ``parallel=True`` + compression (or a sparse index): compressed sizes
  are unknowable at plan time, so a TWO-PHASE staged tail compresses
  and stages chunks distributed, lays out addresses on the driver from
  the key+size manifest (metadata scale), and ``pwrite``\\ s the staged
  bytes distributed — byte-identical output to the serial stream, with
  no driver byte bottleneck at any cluster size.

The chunk B-trees land after the data so nothing in the front region
depends on compressed sizes. The ``pwrite`` tails assume the target is
reachable from every executor (local fs here; NFS/Lustre on a real
cluster); the parquet/zarr cell tables remain the 100-TB storage paths.
"""

from __future__ import annotations

import os
import shutil
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _blocks, _staged, dtypes as _dt, keys
from .grid import Grid
from .netcdf import derive_grid

UNDEF = 0xFFFFFFFFFFFFFFFF
_SIG = b"\x89HDF\r\n\x1a\n"
_LEAF_K, _INT_K = 4, 16  # group B-tree ranks (superblock fields)
#: netcdf-c's NAME attribute for dimensions that have no coordinate var
_PHONY = "This is a netCDF dimension but not a netCDF variable."


def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _align8(n: int) -> int:
    return (n + 7) // 8 * 8


# ---------------------------------------------------------------------------
# message builders (write side) — HDF5 spec section IV
# ---------------------------------------------------------------------------

def _msg(typ: int, body: bytes) -> bytes:
    body = _pad8(body)
    return struct.pack("<HHB3x", typ, len(body), 0) + body


def _ohdr_v1(messages: "list[bytes]") -> bytes:
    body = b"".join(messages)
    return struct.pack("<BxHII4x", 1, len(messages), 1, len(body)) + body


def _ds_msg(dims: "tuple[int, ...]", maxdims: "tuple[int, ...] | None" = None
            ) -> bytes:
    """Dataspace v1; scalar = dimensionality 0; maxdims UNDEF = unlimited."""
    md = dims if maxdims is None else maxdims
    b = struct.pack("<BBB5x", 1, len(dims), 1 if dims else 0)
    b += b"".join(struct.pack("<Q", d) for d in dims)
    b += b"".join(struct.pack("<Q", d) for d in (md if dims else ()))
    return b


def _dt_fixed(np_dt: np.dtype) -> bytes:
    bits0 = (1 if np_dt.byteorder == ">" else 0) | (
        8 if np_dt.kind == "i" else 0
    )
    return struct.pack(
        "<BBBBIHH", 0x10, bits0, 0, 0, np_dt.itemsize, 0, np_dt.itemsize * 8
    )


def _dt_float(size: int, big_endian: bool = False) -> bytes:
    # bitfield byte0: bit0 byte order, bits 4-5 = 2 (implied-MSB mantissa);
    # byte1 = sign bit location. Properties follow IEEE 754.
    head = struct.pack(
        "<BBBBI", 0x11, 0x20 | (1 if big_endian else 0), size * 8 - 1, 0, size
    )
    if size == 8:
        return head + struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
    return head + struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)


def _dt_of(np_dt: np.dtype) -> bytes:
    if np_dt.kind == "f":
        return _dt_float(np_dt.itemsize, np_dt.byteorder == ">")
    return _dt_fixed(np_dt)


def _dt_string(n: int) -> bytes:
    return struct.pack("<BBBBI", 0x13, 0, 0, 0, n)  # null-terminated, ASCII


def _dt_ref() -> bytes:
    return struct.pack("<BBBBI", 0x17, 0, 0, 0, 8)  # object reference


def _dt_vlen_ref() -> bytes:
    return struct.pack("<BBBBI", 0x19, 0, 0, 0, 16) + _dt_ref()


def _fill_msg(fill: bytes, chunked: bool) -> bytes:
    return _msg(0x0005, struct.pack(
        "<BBBBI", 2, 3 if chunked else 1, 0, 1, len(fill)) + fill)


def _layout_contig(addr: int, size: int) -> bytes:
    return _msg(0x0008, struct.pack("<BBQQ", 3, 1, addr, size))


def _layout_chunked(btree_addr: int, chunk: "tuple[int, ...]", esize: int
                    ) -> bytes:
    b = struct.pack("<BBBQ", 3, 2, len(chunk) + 1, btree_addr)
    b += b"".join(struct.pack("<I", d) for d in chunk)
    return _msg(0x0008, b + struct.pack("<I", esize))


def _filter_msg(
    shuffle_esize: int, deflate_level: "int | None", fletcher32: bool = False,
    zstd_level: "int | None" = None,
) -> bytes:
    filters = []
    if shuffle_esize:
        filters.append((2, shuffle_esize))
    if deflate_level is not None:
        filters.append((1, deflate_level))
    n = len(filters) + (1 if fletcher32 else 0) + (1 if zstd_level
                                                   is not None else 0)
    b = struct.pack("<BB6x", 1, n)
    for fid, cval in filters:  # built-in ids carry no name; 1 client value
        b += struct.pack("<HHHHI4x", fid, 0, 0, 1, cval)
    if zstd_level is not None:
        # registered filter (id >= 256): v1 carries an 8-padded name
        name = b"zstd\x00\x00\x00\x00"
        b += struct.pack("<HHHH", 32015, len(name), 0, 1) + name \
            + struct.pack("<I4x", zstd_level)
    if fletcher32:  # LAST: checksum covers the post-compression stream
        b += struct.pack("<HHHH", 3, 0, 0, 0)
    return _msg(0x000B, b)


def _attr_msg(name: str, dt: bytes, ds: bytes, value: bytes) -> bytes:
    nb = name.encode() + b"\x00"
    body = struct.pack("<BxHHH", 1, len(nb), len(dt), len(ds))
    return _msg(0x000C, body + _pad8(nb) + _pad8(dt) + _pad8(ds) + value)


def _str_attr(name: str, value: str) -> bytes:
    vb = value.encode() + b"\x00"
    return _attr_msg(name, _dt_string(len(vb)), _ds_msg(()), vb)


def _scalar_attr(name: str, value) -> bytes:
    if isinstance(value, str):
        return _str_attr(name, value)
    if isinstance(value, (np.generic,)):
        a = np.asarray(value)
        return _attr_msg(name, _dt_of(a.dtype), _ds_msg(()), a.tobytes())
    if isinstance(value, int):
        return _attr_msg(
            name, _dt_fixed(np.dtype("<i4")), _ds_msg(()),
            struct.pack("<i", value),
        )
    return _attr_msg(
        name, _dt_float(8), _ds_msg(()), struct.pack("<d", float(value))
    )


def _symtab_msg(btree: int, heap: int) -> bytes:
    return _msg(0x0011, struct.pack("<QQ", btree, heap))


def _cont_msg(addr: int, size: int) -> bytes:
    return _msg(0x0010, struct.pack("<QQ", addr, size))


def _local_heap(names: "list[str]", data_addr: int
                ) -> "tuple[bytes, bytes, dict[str, int]]":
    """Local heap header + data block; offset 0 is the root's empty name."""
    data, offs = bytearray(b"\x00" * 8), {}
    for n in names:
        offs[n] = len(data)
        data += _pad8(n.encode() + b"\x00")
    hdr = b"HEAP" + struct.pack("<B3xQQQ", 0, len(data), UNDEF, data_addr)
    return hdr, bytes(data), offs


def _snod(entries: "list[tuple[int, int]]") -> bytes:
    """Symbol table node: (heap name offset, object header addr) rows,
    pre-sorted by name."""
    b = b"SNOD" + struct.pack("<BBH", 1, 0, len(entries))
    for off, addr in entries:
        b += struct.pack("<QQII16x", off, addr, 0, 0)
    return b


def _group_btree(snod_addrs: "list[int]", last_name_offs: "list[int]"
                 ) -> bytes:
    """Type-0 (group) v1 B-tree root over the SNOD leaves. Key i is the
    heap offset of the highest name in child i-1 (key 0 = empty name)."""
    n = len(snod_addrs)
    b = b"TREE" + struct.pack("<BBHQQ", 0, 0, n, UNDEF, UNDEF)
    b += struct.pack("<Q", 0)
    for addr, off in zip(snod_addrs, last_name_offs):
        b += struct.pack("<QQ", addr, off)
    return b


def _lookup3(data: bytes, init: int = 0) -> int:
    """Jenkins lookup3 ``hashlittle`` — HDF5's metadata checksum
    (``H5_checksum_metadata``; reference vectors from lookup3.c's
    self-test). Metadata is KB-scale so plain-int Python is fine."""
    M = 0xFFFFFFFF

    def rot(x: int, k: int) -> int:
        return ((x << k) | (x >> (32 - k))) & M

    ln = len(data)
    a = b = c = (0xDEADBEEF + ln + init) & M
    i = 0
    while ln > 12:
        a = (a + int.from_bytes(data[i:i + 4], "little")) & M
        b = (b + int.from_bytes(data[i + 4:i + 8], "little")) & M
        c = (c + int.from_bytes(data[i + 8:i + 12], "little")) & M
        a = (a - c) & M; a ^= rot(c, 4); c = (c + b) & M  # noqa: E702
        b = (b - a) & M; b ^= rot(a, 6); a = (a + c) & M  # noqa: E702
        c = (c - b) & M; c ^= rot(b, 8); b = (b + a) & M  # noqa: E702
        a = (a - c) & M; a ^= rot(c, 16); c = (c + b) & M  # noqa: E702
        b = (b - a) & M; b ^= rot(a, 19); a = (a + c) & M  # noqa: E702
        c = (c - b) & M; c ^= rot(b, 4); b = (b + a) & M  # noqa: E702
        i += 12
        ln -= 12
    tail = data[i:]
    if tail:  # zero-padding ≡ the switch fall-through (adding 0 is a no-op)
        k = tail + b"\x00" * (12 - len(tail))
        a = (a + int.from_bytes(k[0:4], "little")) & M
        b = (b + int.from_bytes(k[4:8], "little")) & M
        c = (c + int.from_bytes(k[8:12], "little")) & M
        c ^= b; c = (c - rot(b, 14)) & M  # noqa: E702
        a ^= c; a = (a - rot(c, 11)) & M  # noqa: E702
        b ^= a; b = (b - rot(a, 25)) & M  # noqa: E702
        c ^= b; c = (c - rot(b, 16)) & M  # noqa: E702
        a ^= c; a = (a - rot(c, 4)) & M  # noqa: E702
        b ^= a; b = (b - rot(a, 14)) & M  # noqa: E702
        c ^= b; c = (c - rot(b, 24)) & M  # noqa: E702
    return c


def _sum32(blob: bytes) -> bytes:
    return blob + struct.pack("<I", _lookup3(blob))


def _size_len(csize: int) -> int:
    """Width of the filtered-element stored-size field — libhdf5's
    ``1 + (H5VM_log2_gen(chunk_size) + 8) / 8`` (identical in
    H5Dfarray/H5Dearray/H5Dbtree2; the leading extra byte is headroom
    for filters that EXPAND a chunk), capped at 8. The ``1 +`` must
    match libhdf5 exactly: foreign readers recompute this width from
    the chunk size rather than trusting the stored element size."""
    return min(8, 1 + (max(csize, 1).bit_length() - 1 + 8) // 8)


def _layout_chunked4(
    index_addr: int, chunk: "tuple[int, ...]", esize: int, itype: int,
    info: bytes = b"", flags: int = 0,
) -> bytes:
    """Version-4 Data Layout message (the 1.10 "latest" format): chunked
    class with a chunk-index type — 1 single chunk, 2 implicit, 3 fixed
    array, 4 extensible array, 5 v2 B-tree. Dims carry the element size
    as the trailing entry, like v3; ``info`` is the index-specific field
    blob that precedes the index address."""
    dims = list(chunk) + [esize]
    enc = max(1, (max(dims).bit_length() + 7) // 8)
    enc = 1 if enc == 1 else (2 if enc == 2 else (4 if enc <= 4 else 8))
    b = struct.pack("<BBBBB", 4, 2, flags, len(dims), enc)
    for d in dims:
        b += int(d).to_bytes(enc, "little")
    b += struct.pack("<B", itype) + info + struct.pack("<Q", index_addr)
    return _msg(0x0008, b)


def _fixed_array_blob(
    elems: "dict[int, tuple[int, int, int]]", n: int, csize: int,
    filtered: bool, base_addr: int, page_bits: int = 10,
) -> "tuple[int, bytes]":
    """Fixed Array chunk index (FAHD header + FADB data block [+ pages])
    over ``n`` linear chunk slots; ``elems`` maps slot → (addr, nbytes,
    filter mask), absent slots store the undefined address. Returns
    (header address, blob laid out from ``base_addr``). Client 0 elements
    are a bare chunk address; client 1 (filtered) appends the stored size
    (``_size_len`` bytes) and the 4-byte filter mask — the libhdf5 1.10
    on-disk layout, lookup3-checksummed like every v2-era structure."""
    sl = _size_len(csize)
    entry = 8 + (sl + 4 if filtered else 0)
    client = 1 if filtered else 0

    def elem(i: int) -> bytes:
        addr, nb, mask = elems.get(i, (UNDEF, 0, 0))
        b = struct.pack("<Q", addr)
        if filtered:
            b += int(nb).to_bytes(sl, "little") + struct.pack("<I", mask)
        return b

    hdr_addr = base_addr
    dblk_addr = hdr_addr + 28
    hdr = _sum32(b"FAHD" + struct.pack("<BBBBQQ", 0, client, entry,
                                       page_bits, n, dblk_addr))
    per_page = 1 << page_bits
    pre = b"FADB" + struct.pack("<BBQ", 0, client, hdr_addr)
    if n <= per_page:
        dblk = _sum32(pre + b"".join(elem(i) for i in range(n)))
        return hdr_addr, hdr + dblk
    npages = -(-n // per_page)
    bitmap = bytearray((npages + 7) // 8)
    for p in range(npages):  # all pages materialize (simplest valid form)
        bitmap[p // 8] |= 0x80 >> (p % 8)  # H5VM_bit_set: MSB-first
    dblk = _sum32(pre + bytes(bitmap))
    pages = b"".join(
        _sum32(b"".join(elem(i)
                        for i in range(p * per_page,
                                       min((p + 1) * per_page, n))))
        for p in range(npages)
    )
    return hdr_addr, hdr + dblk + pages


def _ea_slot_offs(idx: int, grid, cdims, unlim: int) -> "tuple[int, ...]":
    """Extensible-array element index → chunk element offsets: the
    element index is the row-major slot over the chunk grid with the one
    unlimited dimension swizzled to the front (``H5VM_swizzle_coords``:
    dims before it shift right, dims after stay). ``unlim=0`` — the
    netCDF time-series shape — degenerates to plain row-major."""
    rank = len(cdims)
    order = [unlim] + [i for i in range(rank) if i != unlim]
    coords = []
    for k in reversed(order):  # last swizzled dim varies fastest
        coords.append(idx % grid[k])
        idx //= grid[k]
    coords.reverse()  # aligned with `order`
    un = [0] * rank
    for k, i in enumerate(order):
        un[i] = coords[k]
    return tuple(int(un[i]) * int(cdims[i]) for i in range(rank))


def _ea_sblk_info(max_bits: int, min_elmts: int):
    """Extensible-array super-block geometry, bit-equal to libhdf5's
    ``H5EA__hdr_init``: super block ``u`` holds ``2^(u//2)`` data blocks of
    ``min_elmts * 2^((u+1)//2)`` elements each. Returns
    ``[(ndblks, dblk_nelmts, start_idx, start_dblk), ...]`` — element
    indices EXCLUDE the index-block elements (the lookup subtracts them
    first, like ``H5EA__dblock_sblk_idx``)."""
    lg = min_elmts.bit_length() - 1
    if min_elmts <= 0 or (1 << lg) != min_elmts:
        raise ValueError("data_blk_min_elmts must be a power of two")
    info, start_idx, start_dblk = [], 0, 0
    for u in range(1 + (max_bits - lg)):
        nd, ne = 1 << (u // 2), (1 << ((u + 1) // 2)) * min_elmts
        info.append((nd, ne, start_idx, start_dblk))
        start_idx += nd * ne
        start_dblk += nd
    return info


def _extensible_array_blob(
    elems: "dict[int, tuple[int, int, int]]", n: int, csize: int,
    filtered: bool, base_addr: int, max_bits: int = 32,
    idx_elmts: int = 4, min_elmts: int = 16, min_ptrs: int = 4,
    page_bits: int = 10,
) -> "tuple[int, bytes]":
    """Extensible Array chunk index (EAHD header → EAIB index block →
    EADB data blocks / EASB super blocks [+ pages]) over ``n`` linear
    chunk slots, laid out from ``base_addr``. Element ``i`` is the chunk's
    row-major slot in the (swizzled) chunk grid — for the netCDF shape
    (time unlimited = dim 0) that is the plain row-major slot. The default
    creation params are the ones ``H5Dearray.c`` hardcodes for every real
    file (32, 4, 16, 4, 10); tests shrink them to force super blocks and
    data-block pages at small n. Client 0 elements are a bare chunk
    address; client 1 appends the ``_size_len`` stored size and the 4-byte
    filter mask."""
    if (1 << (min_ptrs.bit_length() - 1)) != min_ptrs or min_ptrs < 2:
        raise ValueError("sup_blk_min_data_ptrs must be a power of two >= 2")
    sl = _size_len(csize)
    esz = 8 + (sl + 4 if filtered else 0)
    client = 1 if filtered else 0
    arr_off = (max_bits + 7) // 8
    page_n = 1 << page_bits
    info = _ea_sblk_info(max_bits, min_elmts)
    nsblks = len(info)
    nsd = 2 * (min_ptrs.bit_length() - 1)     # sblks addressed as dblks
    if nsd >= nsblks:
        raise ValueError("sup_blk_min_data_ptrs too large for max_bits")
    ndirect = info[nsd][3]                    # direct dblk pointer count

    def elem(i: int) -> bytes:
        addr, nb, mask = elems.get(i, (UNDEF, 0, 0))
        b = struct.pack("<Q", addr)
        if filtered:
            b += int(nb).to_bytes(sl, "little") + struct.pack("<I", mask)
        return b

    hdr_addr = base_addr
    ib_addr = hdr_addr + 72
    ib_size = 14 + idx_elmts * esz + (ndirect + nsblks - nsd) * 8 + 4
    pos = ib_addr + ib_size

    def dblock(addr: int, ne: int, base_idx: int) -> bytes:
        """One data block; paged when ne exceeds the page size."""
        head = b"EADB" + struct.pack("<BBQ", 0, client, hdr_addr)
        head += int(base_idx).to_bytes(arr_off, "little")
        if ne <= page_n:
            return _sum32(head + b"".join(elem(base_idx + j)
                                          for j in range(ne)))
        out = _sum32(head)  # paged: prefix-only block, pages follow
        for p in range(ne // page_n):
            out += _sum32(b"".join(elem(base_idx + p * page_n + j)
                                   for j in range(page_n)))
        return out

    # direct data blocks (super blocks 0..nsd-1, pointed from the iblock)
    dblk_addrs, blocks = [], []
    n_db, db_bytes = 0, 0
    for d in range(ndirect):
        u = next(i for i, (nd, _, _, sd) in enumerate(info)
                 if sd <= d < sd + nd)
        nd_u, ne_u, si_u, sd_u = info[u]
        if ne_u > page_n:
            raise ValueError("direct data blocks cannot be paged — raise "
                             "max_dblk_page_nelmts_bits")
        base_idx = idx_elmts + si_u + (d - sd_u) * ne_u
        if base_idx >= n:
            dblk_addrs.append(UNDEF)
            continue
        blob = dblock(pos, ne_u, base_idx)
        dblk_addrs.append(pos)
        blocks.append(blob)
        n_db += 1
        db_bytes += len(blob)
        pos += len(blob)

    # super blocks nsd..: page-init bitmaps (MSB-first) + dblk addresses
    sblk_addrs, n_sb, sb_bytes = [], 0, 0
    for u in range(nsd, nsblks):
        nd_u, ne_u, si_u, _ = info[u]
        if idx_elmts + si_u >= n:
            sblk_addrs.append(UNDEF)
            continue
        npages = ne_u // page_n if ne_u > page_n else 0
        pis = (npages + 7) // 8 if npages else 0
        sub_addrs, sub_blobs, bitmap = [], [], bytearray(nd_u * pis)
        at = 0  # filled after the sblock itself is placed
        sb_size = 14 + arr_off + nd_u * pis + nd_u * 8 + 4
        at = pos + sb_size
        for k in range(nd_u):
            base_idx = idx_elmts + si_u + k * ne_u
            if base_idx >= n:
                sub_addrs.append(UNDEF)
                continue
            blob = dblock(at, ne_u, base_idx)
            sub_addrs.append(at)
            sub_blobs.append(blob)
            for p in range(npages):  # every page materializes
                bitmap[k * pis + p // 8] |= 0x80 >> (p % 8)
            at += len(blob)
        sb = b"EASB" + struct.pack("<BBQ", 0, client, hdr_addr)
        sb += int(idx_elmts + si_u).to_bytes(arr_off, "little")
        sb += bytes(bitmap)
        sb += b"".join(struct.pack("<Q", a) for a in sub_addrs)
        sblk_addrs.append(pos)
        blocks.append(_sum32(sb))
        blocks.extend(sub_blobs)
        n_sb += 1
        sb_bytes += sb_size
        n_db += len(sub_blobs)
        db_bytes += sum(len(b) for b in sub_blobs)
        pos = at

    # header: note min_ELMTS precedes min_PTRS here (opposite of the
    # layout-message field order)
    hdr = b"EAHD" + struct.pack(
        "<BBBBBBBB", 0, client, esz, max_bits, idx_elmts, min_elmts,
        min_ptrs, page_bits)
    hdr += struct.pack("<QQQQQQ", n_sb, sb_bytes, n_db, db_bytes, n, n)
    hdr += struct.pack("<Q", ib_addr)
    hdr = _sum32(hdr)

    ib = b"EAIB" + struct.pack("<BBQ", 0, client, hdr_addr)
    ib += b"".join(elem(i) for i in range(idx_elmts))
    ib += b"".join(struct.pack("<Q", a) for a in dblk_addrs)
    ib += b"".join(struct.pack("<Q", a) for a in sblk_addrs)
    ib = _sum32(ib)
    assert len(ib) == ib_size and len(hdr) == 72
    return hdr_addr, hdr + ib + b"".join(blocks)


def _b2_sizes(node_size: int, rec_size: int, nrec_total: "int | None" = None,
              depth: "int | None" = None):
    """v2 B-tree node-capacity cascade (``H5B2__hdr_init``): grows levels
    until they hold ``nrec_total`` records (writer) or reach ``depth``
    (reader). Returns (depth, max recs per node by depth, cumulative max
    records by depth, cumulative-count field width by depth, record-count
    field width)."""
    enc = lambda v: ((max(int(v), 1).bit_length() - 1) // 8) + 1
    leaf_max = (node_size - 10) // rec_size
    if leaf_max < 1:
        raise ValueError("node_size too small for one record")
    max_nrec_size = enc(leaf_max)
    maxrec, cum, cum_size = [leaf_max], [leaf_max], [0]
    d = 0
    while (cum[d] < nrec_total) if depth is None else (d < depth):
        d += 1
        ptr = 8 + max_nrec_size + cum_size[d - 1]
        imax = (node_size - 10 - ptr) // (rec_size + ptr)
        if imax < 1:
            raise ValueError("node_size too small for an internal record")
        maxrec.append(imax)
        cum.append((imax + 1) * cum[d - 1] + imax)
        cum_size.append(enc(cum[d]))
    return d, maxrec, cum, cum_size, max_nrec_size


def _btree2_blob(
    records: "list[tuple[tuple, int, int, int]]", csize: int,
    filtered: bool, base_addr: int, node_size: int = 2048,
) -> "tuple[int, bytes]":
    """Version-2 B-tree chunk index (BTHD header → BTIN internal / BTLF
    leaf nodes) over ``(scaled chunk offsets, data address, stored nbytes,
    filter mask)`` records sorted by scaled offsets — record type 10
    (unfiltered) or 11 (filtered, with the ``_size_len`` stored-size field
    and 4-byte mask). Builds as many levels as ``node_size`` forces; each
    node occupies ``node_size`` bytes on disk (lookup3 checksum directly
    after the payload, zero fill after — the libhdf5 serialize shape).
    Returns (header address, blob laid out from ``base_addr``)."""
    rank = len(records[0][0]) if records else 1
    sl = _size_len(csize)
    rtype = 11 if filtered else 10
    rec_size = 8 + (sl + 4 if filtered else 0) + 8 * rank
    n = len(records)
    depth, maxrec, cum, cum_size, max_nrec_size = _b2_sizes(
        node_size, rec_size, max(n, 1))

    def enc_rec(r) -> bytes:
        offs, addr, nb, mask = r
        b = struct.pack("<Q", addr)
        if filtered:
            b += int(nb).to_bytes(sl, "little") + struct.pack("<I", mask)
        return b + b"".join(struct.pack("<Q", int(o)) for o in offs)

    nodes = []  # (depth, own records, child node indices)

    def build(recs: list, d: int) -> "tuple[int, int]":
        """→ (node index, total records in subtree)."""
        if d == 0:
            nodes.append((0, recs, []))
            return len(nodes) - 1, len(recs)
        cap_child = cum[d - 1]
        k = max(2, -(-(len(recs) + 1) // (cap_child + 1)))  # children
        own = k - 1
        per, extra = divmod(len(recs) - own, k)
        kids, seps, p = [], [], 0
        for i in range(k):
            take = per + (1 if i < extra else 0)
            kids.append(recs[p:p + take])
            p += take
            if i < own:
                seps.append(recs[p])
                p += 1
        children = [build(c, d - 1) for c in kids]
        nodes.append((d, seps, children))
        return len(nodes) - 1, len(seps) + sum(t for _, t in children)

    root_idx, _ = build(records, depth)
    root_nrec = len(nodes[root_idx][1])
    addrs = [base_addr + 38 + i * node_size for i in range(len(nodes))]

    def render(i: int) -> bytes:
        d, recs, children = nodes[i]
        if d == 0:
            body = b"BTLF" + bytes([0, rtype])
            body += b"".join(enc_rec(r) for r in recs)
        else:
            body = b"BTIN" + bytes([0, rtype])
            body += b"".join(enc_rec(r) for r in recs)
            for ci, tot in children:
                body += struct.pack("<Q", addrs[ci])
                body += len(nodes[ci][1]).to_bytes(max_nrec_size, "little")
                if d > 1:
                    body += int(tot).to_bytes(cum_size[d - 1], "little")
        body = _sum32(body)
        if len(body) > node_size:
            raise AssertionError("B-tree node overflows node_size")
        return body + b"\x00" * (node_size - len(body))

    hdr = b"BTHD" + bytes([0, rtype])
    hdr += struct.pack("<IHH", node_size, rec_size, depth)
    hdr += bytes([100, 40])  # split / merge percents
    hdr += struct.pack("<QHQ", addrs[root_idx], root_nrec, n)
    return base_addr, _sum32(hdr) + b"".join(render(i)
                                             for i in range(len(nodes)))


def _chunk_key(nbytes: int, mask: int, offs: "tuple[int, ...]") -> bytes:
    return struct.pack("<II", nbytes, mask) + b"".join(
        struct.pack("<Q", o) for o in offs
    )


def _chunk_btree(
    entries: "list[tuple[tuple, int, int]]", max_offs: "tuple[int, ...]",
    base_addr: int, cap: int = 64,
) -> "tuple[int, bytes]":
    """Type-1 (raw data chunk) v1 B-tree over ``(chunk element offsets,
    data address, nbytes)`` entries, already sorted by offsets. Builds as
    many levels as ``cap`` forces; returns (root address, blob laid out
    from ``base_addr``)."""
    keysz = 8 + 8 * len(max_offs)
    maxkey = _chunk_key(0, 0, max_offs)

    # nodes: {level, items: [(key_bytes, child_addr_or_node)], addr}
    leaves = [
        {"level": 0,
         "items": [(_chunk_key(nb, 0, offs), addr)
                   for offs, addr, nb in entries[i:i + cap]]}
        for i in range(0, len(entries), cap)
    ]
    levels = [leaves]
    while len(levels[-1]) > 1:
        prev = levels[-1]
        levels.append([
            {"level": prev[0]["level"] + 1,
             "items": [(nd["items"][0][0], nd) for nd in prev[i:i + cap]]}
            for i in range(0, len(prev), cap)
        ])
    flat = [nd for lev in levels for nd in lev]
    pos = base_addr
    for nd in flat:
        nd["addr"] = pos
        pos += 24 + len(nd["items"]) * (keysz + 8) + keysz
    blob = bytearray()
    for lev in levels:
        for i, nd in enumerate(lev):
            left = lev[i - 1]["addr"] if i > 0 else UNDEF
            right = lev[i + 1]["addr"] if i + 1 < len(lev) else UNDEF
            b = b"TREE" + struct.pack(
                "<BBHQQ", 1, nd["level"], len(nd["items"]), left, right
            )
            for key, child in nd["items"]:
                caddr = child if isinstance(child, int) else child["addr"]
                b += key + struct.pack("<Q", caddr)
            # the final key bounds the node from above: next sibling's
            # first key, or the synthetic past-the-end key
            b += lev[i + 1]["items"][0][0] if i + 1 < len(lev) else maxkey
            blob += b
    return levels[-1][0]["addr"], bytes(blob)


def _gheap(objs: "list[bytes]", addr: int
           ) -> "tuple[bytes, list[tuple[int, int]]]":
    """One global heap collection holding ``objs``; returns (bytes,
    [(collection addr, object index)] aligned with ``objs``)."""
    body, refs = bytearray(), []
    for i, data in enumerate(objs, 1):
        body += struct.pack("<HH4xQ", i, 1, len(data)) + _pad8(data)
        refs.append((addr, i))
    size = max(4096, _align8(16 + len(body) + 16))
    free = size - 16 - len(body)
    out = b"GCOL" + struct.pack("<B3xQ", 1, size) + body
    out += struct.pack("<HH4xQ", 0, 0, free)
    return out + b"\x00" * (size - len(out)), refs


def _superblock(eof: int, root_ohdr: int, root_btree: int, root_heap: int
                ) -> bytes:
    b = _SIG + struct.pack(
        "<8BHHI", 0, 0, 0, 0, 0, 8, 8, 0, _LEAF_K, _INT_K, 0
    )
    b += struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
    # root symbol table entry: name offset 0, cached btree+heap (type 1)
    b += struct.pack("<QQII", 0, root_ohdr, 1, 0)
    b += struct.pack("<QQ", root_btree, root_heap)
    return b


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

def _chunk_of(tk, rows: int, cols: int, ch: int, cw: int) -> "tuple[int, int, int]":
    """Chunk key ``tk = t·n_tiles + tile_key`` → ``(t, ci, cj)``."""
    ny, nx = keys.n_tiles(rows, cols, ch, cw)
    t, tid = divmod(int(tk), ny * nx)
    return (t,) + keys.tile_window(tid, ch, cw, rows, cols)[:2]


def write_netcdf4(
    cells_df: DataFrame, grid: Grid, path: str,
    times: "list[float] | None" = None,
    variables: "list[str] | None" = None, dtype: str = "float64",
    compress: "int | str | None" = 4, shuffle: bool = True,
    fletcher32: bool = False,
    chunk: "tuple[int, int]" = (64, 64), georef: str = "attrs",
    btree_cap: int = 64, index: str = "btree1", fa_page_bits: int = 10,
    ea_params: "tuple[int, int, int, int, int] | None" = None,
    b2_node_size: int = 2048, parallel: bool = False,
) -> pd.DataFrame:
    """Write the long cell table ``(variable, t, row, col, value)`` as one
    netCDF-4 (HDF5) file: dimension-scale datasets ``time``/``y``/``x``
    (``time`` unlimited) and one chunked data variable per name, with
    shuffle+deflate filters and ``DIMENSION_LIST`` wiring. ``times`` None
    writes 2-D ``(y, x)`` variables. ``georef`` = ``"attrs"`` stores the
    engine's x0/y0/cell global attrs; ``"coords"`` relies on the (CF)
    coordinate variables alone; ``"coords-ascending"`` additionally flips
    the y axis ascending — the layout wild CF files use. ``index`` picks
    the chunk index: ``"btree1"`` (v1 B-tree + v3 layout message, the
    libhdf5-1.8 default every consumer reads), ``"fixed_array"`` (v4
    layout message + Fixed Array, the 1.10 'latest'-format layout; all
    dims become fixed-size, as libhdf5 requires for this index;
    ``fa_page_bits`` sizes the data-block pages), ``"extensible"`` (v4 +
    Extensible Array -- what libhdf5 1.10+ picks for exactly one
    unlimited dim, i.e. the default netCDF-4 time-series shape;
    ``ea_params`` = (max_bits, idx_blk_elmts, data_blk_min_elmts,
    sup_blk_min_data_ptrs, page_bits), default the hardcoded H5Dearray
    values (32, 4, 16, 4, 10) every real file uses), or ``"btree2"``
    (v4 + version-2 B-tree; ``b2_node_size`` forces its depth).
    ``parallel=True`` removes the driver byte stream entirely: direct
    executor ``pwrite`` when uncompressed with the dense fixed-array
    index, else the two-phase staged tail (distributed compress+stage →
    driver metadata layout → distributed ``pwrite``); output is
    byte-identical to the serial stream. Returns the chunk
    manifest (lineage). See the module docstring for the distributed
    write shape."""
    if index not in ("btree1", "fixed_array", "extensible", "btree2"):
        raise ValueError("index must be btree1, fixed_array, extensible "
                         f"or btree2, got {index}")
    if index == "extensible" and times is None:
        raise ValueError(
            "index='extensible' needs the unlimited time dimension — "
            "libhdf5 only picks this index for exactly one unlimited dim")
    zstd_level = None
    if isinstance(compress, str):
        # "zstd" / "zstd:N": the registered Zstandard filter (id 32015,
        # the netCDF-4.9 compression); ints stay deflate levels
        if compress == "zstd":
            zstd_level = 3
        elif (compress.startswith("zstd:") and compress[5:].isascii()
                and compress[5:].isdigit() and 1 <= int(compress[5:]) <= 22):
            zstd_level = int(compress[5:])
        else:
            raise ValueError(f"compress must be an int, None, 'zstd' or "
                             f"'zstd:<level>' (got {compress!r})")
        compress = None
    dt_name = _dt.resolve(dtype)
    np_dt = _dt.np_dtype(dt_name)
    esize = np_dt.itemsize
    fill = _dt.check_fill(dt_name, grid.nodata)
    rows, cols = grid.rows, grid.cols
    nt = 1 if times is None else len(times)
    three_d = times is not None
    ch, cw = min(chunk[0], rows), min(chunk[1], cols)
    flip_write = georef == "coords-ascending"
    if variables is None:
        variables = sorted(
            r[0] for r in cells_df.select("variable").distinct().collect()
        )

    cell = grid.cell
    xs = grid.x0 + cell / 2 + cell * np.arange(cols, dtype="<f8")
    ys = grid.y0 - cell / 2 - cell * np.arange(rows, dtype="<f8")
    if flip_write:
        ys = ys[::-1].copy()
    fill_store = _dt.cast_block(np.full(1, fill, "<f8"), dt_name)
    fill_bytes = fill_store.tobytes()

    dims = [("time", nt, np.asarray(
                [0.0] if times is None else times, "<f8"), ("T",)),
            ("y", rows, ys, ("Y",)), ("x", cols, xs, ("X",))]
    if not three_d:
        dims = dims[1:]
    dim_names = [d[0] for d in dims]
    names = sorted(dim_names + list(variables))

    # ---- pass-independent structure --------------------------------------
    heap_hdr0, heap_data, name_offs = _local_heap(names, 0)
    snod_groups = [names[i:i + 2 * _LEAF_K]
                   for i in range(0, len(names), 2 * _LEAF_K)]
    n_gheap = len(variables) * len(dims)

    def build(a: dict) -> "dict[str, bytes]":
        """Render every front-region component against the address map
        ``a`` (pass 1: zeros for sizing; pass 2: resolved)."""
        out = {}
        out["heap_hdr"], _, _ = _local_heap(names, a.get("heap_data", 0))
        out["heap_data"] = heap_data
        out["gbtree"] = _group_btree(
            [a.get(f"snod{i}", 0) for i in range(len(snod_groups))],
            [name_offs[g[-1]] for g in snod_groups],
        )
        for i, g in enumerate(snod_groups):
            out[f"snod{i}"] = _snod(
                [(name_offs[n], a.get(f"ohdr_{n}", 0)) for n in g]
            )
        gobjs = []
        for v in variables:
            for dn in dim_names:
                gobjs.append(struct.pack("<Q", a.get(f"ohdr_{dn}", 0)))
        out["gheap"], grefs = _gheap(gobjs, a.get("gheap", 0))
        # root group header: symbol table + global attributes
        gatts = [_str_attr("Conventions", "CF-1.6"),
                 _str_attr("_NCProperties",
                           "version=2,netcdf=pyramids-spark,hdf5=pure-numpy")]
        if georef == "attrs":
            gatts += [_scalar_attr("x0", grid.x0), _scalar_attr("y0", grid.y0),
                      _scalar_attr("cell", grid.cell),
                      _scalar_attr("epsg", int(grid.epsg))]
            if grid.nodata is not None:
                gatts.append(_scalar_attr("nodata", float(grid.nodata)))
        out["ohdr_/"] = _ohdr_v1(
            [_symtab_msg(a.get("gbtree", 0), a.get("heap_hdr", 0))] + gatts
        )
        fixed_dims = index == "fixed_array"  # this index needs fixed maxdims
        for di, (dn, dsize, dvals, axes) in enumerate(dims):
            out[f"coord_{dn}"] = dvals.tobytes()
            maxd = ((UNDEF,) if (dn == "time" and three_d and not fixed_dims)
                    else (dsize,))
            msgs = [
                _msg(0x0001, _ds_msg((dsize,), maxd)),
                _msg(0x0003, _dt_float(8)),
                _fill_msg(struct.pack("<d", float("nan")), False),
                _layout_contig(a.get(f"coord_{dn}", 0), dsize * 8),
                _str_attr("CLASS", "DIMENSION_SCALE"),
                _str_attr("NAME", dn),
                _scalar_attr("_Netcdf4Dimid", di),
                _str_attr("axis", axes[0]),
            ]
            out[f"ohdr_{dn}"] = _ohdr_v1(msgs)
        for vi, v in enumerate(variables):
            shape = (nt, rows, cols) if three_d else (rows, cols)
            maxd = ((UNDEF, rows, cols) if three_d and not fixed_dims
                    else shape)
            cdims = (1, ch, cw) if three_d else (ch, cw)
            dl = b""
            for k in range(len(dims)):
                ga, gi = grefs[vi * len(dims) + k]
                dl += struct.pack("<IQI", 1, ga, gi)
            attr_msgs = [
                _attr_msg("DIMENSION_LIST", _dt_vlen_ref(),
                          _ds_msg((len(dims),)), dl),
                _attr_msg("_FillValue", _dt_of(np_dt), _ds_msg(()),
                          fill_bytes),
            ]
            head = [
                _msg(0x0001, _ds_msg(shape, maxd)),
                _msg(0x0003, _dt_of(np_dt)),
                _fill_msg(fill_bytes, True),
            ]
            if shuffle or compress is not None or fletcher32 \
                    or zstd_level is not None:
                head.append(_filter_msg(
                    esize if shuffle else 0, compress, fletcher32,
                    zstd_level))
            if fixed_dims:
                head.append(_layout_chunked4(
                    a.get(f"btree_{v}", UNDEF), cdims, esize, 3,
                    info=bytes([fa_page_bits])))
            elif index == "extensible":
                mb, ie, me, mp, pb = ea_params or (32, 4, 16, 4, 10)
                # layout-message param order: min POINTERS before min
                # ELEMENTS (H5O__layout_decode) — EAHD stores the reverse
                head.append(_layout_chunked4(
                    a.get(f"btree_{v}", UNDEF), cdims, esize, 4,
                    info=bytes([mb, ie, mp, me, pb])))
            elif index == "btree2":
                head.append(_layout_chunked4(
                    a.get(f"btree_{v}", UNDEF), cdims, esize, 5,
                    info=struct.pack("<IBB", b2_node_size, 100, 40)))
            else:
                head.append(_layout_chunked(
                    a.get(f"btree_{v}", UNDEF), cdims, esize))
            # attributes live in a CONTINUATION block — the layout real
            # libhdf5 headers routinely use, so every read exercises it
            cont = b"".join(attr_msgs)
            head.append(_cont_msg(a.get(f"cont_{v}", 0), len(cont)))
            # message COUNT covers both blocks; hdrsize covers block 0 only
            pre = struct.pack(
                "<BxHII4x", 1, len(head) + len(attr_msgs), 1,
                sum(len(m) for m in head),
            )
            out[f"ohdr_{v}"] = pre + b"".join(head)
            out[f"cont_{v}"] = cont
        return out

    comp0 = build({})
    order = (["heap_hdr", "heap_data", "gbtree"]
             + [f"snod{i}" for i in range(len(snod_groups))] + ["gheap"]
             + [f"coord_{d}" for d in dim_names] + ["ohdr_/"]
             + [x for v in dim_names for x in (f"ohdr_{v}",)]
             + [x for v in variables for x in (f"ohdr_{v}", f"cont_{v}")])
    addrs, pos = {}, 96
    for k in order:
        addrs[k] = pos
        pos += _align8(len(comp0[k]))
    addrs["heap_data"] = addrs["heap_hdr"] + 32  # data follows its header
    data_start = _align8(pos)

    # ---- distributed chunk build, ordered driver stream -------------------
    # NULL cells are absent rows (nodata contract shared with the TIFF /
    # zarr / classic-NetCDF sinks): they stay at the fill value instead of
    # becoming NaN (float) or crashing the integer cast (int dtypes).
    src = cells_df.where(F.col("value").isNotNull()).select(
        "variable", "t", "row", "col", "value")
    if flip_write:
        src = src.withColumn("row", F.lit(rows - 1) - F.col("row"))
    # packed shuffle keys (guide §2.3 — shuffle fewer bytes, keys.py): the
    # chunk key tk = t·n_tiles + tile_key (also the dense slot index) and
    # the cell key rc replace five longs; rc decodes exactly, so the loud
    # extent guard sees what was encoded
    ny_k, nx_k = keys.n_tiles(rows, cols, ch, cw)
    keyed = src.select(
        "variable",
        (F.col("t").cast("long") * (ny_k * nx_k)
         + keys.tile_key("row", "col", ch, cw, nx_k)).alias("tk"),
        keys.pack_rc("row", "col").alias("rc"),
        "value",
    )

    var_set = frozenset(variables)

    def encode_chunk(key, pdf: pd.DataFrame) -> bytes:
        v = str(key[0])
        t, ci, cj = _chunk_of(key[1], rows, cols, ch, cw)
        # loud extent guard, like the TIFF / classic-NetCDF sinks: an
        # out-of-extent cell would otherwise become a B-tree key outside
        # the dataspace; t >= nt (e.g. a 3-D table written times=None)
        # would collapse distinct records onto duplicate chunk keys.
        msg = (f"cell outside file dimensions in {v!r}: t={t} "
               f"(nt={nt}), grid {rows}x{cols}")
        if v not in var_set or not 0 <= t < nt:
            raise ValueError(msg)
        rr, cc = keys.unpack_rc_np(pdf["rc"].to_numpy(np.int64))
        keys.check_extent(rr, cc, rows, cols, msg)
        block = np.full((ch, cw), fill, "<f8")
        block[rr - ci * ch, cc - cj * cw] = pdf["value"].to_numpy(np.float64)
        raw = _dt.cast_block(block, dt_name).tobytes()
        if shuffle:
            raw = np.frombuffer(raw, "u1").reshape(-1, esize).T.tobytes()
        if compress is not None:
            raw = zlib.compress(raw, compress)
        elif zstd_level is not None:
            import pyarrow as pa

            raw = pa.Codec("zstd", compression_level=zstd_level).compress(
                raw, asbytes=True)
        if fletcher32:
            raw += struct.pack("<I", _fletcher32(raw))
        return raw

    def build_chunk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        data = encode_chunk(key, pdf)  # loud guards fire before decode use
        t, ci, cj = _chunk_of(key[1], rows, cols, ch, cw)
        return pd.DataFrame({
            "variable": [str(key[0])], "t": [t], "ci": [ci], "cj": [cj],
            "data": [data],
        })

    if parallel:
        if compress is None and zstd_level is None \
                and index == "fixed_array":
            # uncompressed + dense index: every chunk address and the
            # index position are plan-time-known — single-pass pwrite
            return _write_netcdf4_parallel_tail(
                keyed, variables, path, addrs, order, build, nt, rows,
                cols, ch, cw, esize, fletcher32,
                bool(shuffle or fletcher32), fa_page_bits, data_start,
                encode_chunk)
        # compressed (sizes unknown at plan time) or a sparse index:
        # two-phase staged tail — distributed compress+stage, driver
        # metadata layout, distributed pwrite
        return _write_netcdf4_staged_tail(
            keyed, variables, path, addrs, order, build, nt, rows, cols,
            ch, cw, esize, three_d, index, ea_params, b2_node_size,
            btree_cap, fa_page_bits,
            bool(shuffle or compress is not None or fletcher32
                 or zstd_level is not None),
            data_start, encode_chunk)

    chunks = keyed.groupBy("variable", "tk").applyInPandas(
        build_chunk,
        "variable string, t long, ci long, cj long, data binary",
    ).orderBy("variable", "t", "ci", "cj")

    entries: "dict[str, list]" = {v: [] for v in variables}
    manifest = []
    with open(path, "wb") as fh:
        fh.seek(data_start)
        cur = data_start
        for r in chunks.toLocalIterator():
            offs = ((r.t, r.ci * ch, r.cj * cw, 0) if three_d
                    else (r.ci * ch, r.cj * cw, 0))
            fh.write(r.data)
            entries[r.variable].append((offs, cur, len(r.data)))
            manifest.append((r.variable, r.t, r.ci, r.cj, cur, len(r.data)))
            cur += len(r.data)
        # ---- chunk B-trees after the data ---------------------------------
        bblobs, eof = _index_blobs(
            entries, variables, addrs, index, three_d, nt, rows, cols,
            ch, cw, esize,
            shuffle or compress is not None or fletcher32
            or zstd_level is not None,
            _align8(cur), ea_params, b2_node_size, btree_cap, fa_page_bits)
        # ---- now every address is known: render + write front & B-trees ---
        comp = build(addrs)
        fh.seek(0)
        fh.write(_superblock(eof, addrs["ohdr_/"], addrs["gbtree"],
                             addrs["heap_hdr"]))
        for k in order:
            fh.seek(addrs[k])
            fh.write(comp[k])
        for at, blob in bblobs:
            fh.seek(at)
            fh.write(blob)
        fh.truncate(eof)
    return pd.DataFrame(
        manifest, columns=["variable", "t", "ci", "cj", "addr", "nbytes"]
    )


def _index_blobs(
    entries: "dict[str, list]", variables, addrs: dict, index: str,
    three_d: bool, nt: int, rows: int, cols: int, ch: int, cw: int,
    esize: int, filtered: bool, btree_base: int, ea_params,
    b2_node_size: int, btree_cap: int, fa_page_bits: int,
) -> "tuple[list[tuple[int, bytes]], int]":
    """Render every variable's chunk index (any of the four index types)
    at ``btree_base``, setting ``addrs['btree_<v>']`` per variable →
    ([(position, blob)], eof). ``entries[v]`` = [(element offsets, data
    address, stored nbytes)] — shared by the serial driver-stream tail
    and the staged two-phase parallel tail."""
    ny, nx = keys.n_tiles(rows, cols, ch, cw)
    max_offs = ((nt, ny * ch, nx * cw, 0) if three_d
                else (ny * ch, nx * cw, 0))
    bblobs = []
    pos = btree_base
    csize = ch * cw * esize
    for v in variables:
        if not entries[v]:
            addrs[f"btree_{v}"] = UNDEF
            continue
        if index in ("fixed_array", "extensible"):
            slots = {}
            for offs, at, nb in entries[v]:
                t0, r0, c0 = (offs[:3] if three_d
                              else (0,) + tuple(offs[:2]))
                # the same dense slot index as the shuffle key tk
                slots[t0 * ny * nx
                      + int(keys.tile_key_np(r0, c0, ch, cw, nx))] = (at, nb, 0)
            if index == "fixed_array":
                root, blob = _fixed_array_blob(
                    slots, nt * ny * nx, csize, filtered, pos,
                    page_bits=fa_page_bits)
            else:
                mb, ie, me, mp, pb = ea_params or (32, 4, 16, 4, 10)
                root, blob = _extensible_array_blob(
                    slots, nt * ny * nx, csize, filtered, pos,
                    max_bits=mb, idx_elmts=ie, min_elmts=me,
                    min_ptrs=mp, page_bits=pb)
        elif index == "btree2":
            recs = sorted(
                (((offs[0], offs[1] // ch, offs[2] // cw) if three_d
                  else (offs[0] // ch, offs[1] // cw)), at, nb, 0)
                for offs, at, nb in entries[v])
            root, blob = _btree2_blob(recs, csize, filtered, pos,
                                      node_size=b2_node_size)
        else:
            root, blob = _chunk_btree(entries[v], max_offs, pos,
                                      cap=btree_cap)
        addrs[f"btree_{v}"] = root
        bblobs.append((pos, blob))
        pos += len(blob)
    return bblobs, pos


def _write_netcdf4_staged_tail(
    keyed: DataFrame, variables, path: str, addrs: dict, order, build,
    nt: int, rows: int, cols: int, ch: int, cw: int, esize: int,
    three_d: bool, index: str, ea_params, b2_node_size: int,
    btree_cap: int, fa_page_bits: int, filtered: bool, data_start: int,
    encode_chunk,
) -> pd.DataFrame:
    """Two-phase executor-parallel tail for COMPRESSED (or non-dense-
    index) ``write_netcdf4(parallel=True)``: compressed chunk sizes are
    unknown at plan time, so (1) a distributed job encodes+compresses
    every chunk and STAGES it as one file under ``<path>._chunks/``,
    returning only (chunk key, nbytes) — metadata scale; (2) the driver
    assigns cumulative addresses in (variable, t, ci, cj) order, renders
    the front matter + chunk indexes, and leaves the data region as
    holes; (3) a second distributed job ``os.pwrite``\\ s each staged
    chunk at its assigned address. The bytes never visit the driver, and
    the result is byte-identical to the serial driver-stream sink. Same
    filesystem model as the uncompressed pwrite tail: the target (and
    scratch dir) must be reachable from every executor — local fs here,
    NFS/Lustre on a real cluster. Reference single-file sink: netcdf-c
    via /root/reference/src/pyramids/netcdf/netcdf.py:849-982."""
    scratch = path + "._chunks"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)

    def _chunk_file(v: str, t: int, ci: int, cj: int) -> str:
        # variable names may hold path-hostile chars — hex-encode them
        return os.path.join(scratch,
                            f"{t}_{ci}_{cj}_{v.encode().hex()}")

    def stage_chunk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        raw = encode_chunk(key, pdf)  # loud var/t/extent guards inside
        v = str(key[0])
        t, ci, cj = _chunk_of(key[1], rows, cols, ch, cw)
        _staged.write_staged(_chunk_file(v, t, ci, cj), raw)
        return pd.DataFrame({
            "variable": [v], "t": [t], "ci": [ci], "cj": [cj],
            "nbytes": [len(raw)],
        })

    try:
        man = keyed.groupBy("variable", "tk").applyInPandas(
            stage_chunk,
            "variable string, t long, ci long, cj long, nbytes long",
        ).orderBy("variable", "t", "ci", "cj").toPandas()

        # ---- driver: metadata-only layout ---------------------------------
        entries: "dict[str, list]" = {v: [] for v in variables}
        cur = data_start
        addr_col = []
        for v, t, ci, cj, nb in zip(man["variable"], man["t"], man["ci"],
                                    man["cj"], man["nbytes"]):
            offs = ((int(t), int(ci) * ch, int(cj) * cw, 0) if three_d
                    else (int(ci) * ch, int(cj) * cw, 0))
            entries[str(v)].append((offs, cur, int(nb)))
            addr_col.append(cur)
            cur += int(nb)
        man["addr"] = addr_col
        bblobs, eof = _index_blobs(
            entries, variables, addrs, index, three_d, nt, rows, cols,
            ch, cw, esize, filtered, _align8(cur), ea_params,
            b2_node_size, btree_cap, fa_page_bits)
        comp = build(addrs)
        with open(path, "wb") as fh:
            fh.write(_superblock(eof, addrs["ohdr_/"], addrs["gbtree"],
                                 addrs["heap_hdr"]))
            for k in order:
                fh.seek(addrs[k])
                fh.write(comp[k])
            for at, blob in bblobs:
                fh.seek(at)
                fh.write(blob)
            fh.truncate(eof)

        # ---- distributed pwrite of the staged chunks ----------------------
        _staged.copy_staged(
            keyed.sparkSession, path,
            [(_chunk_file(str(v), int(t), int(ci), int(cj)), int(at),
              int(nb))
             for v, t, ci, cj, at, nb in zip(
                 man["variable"], man["t"], man["ci"], man["cj"],
                 man["addr"], man["nbytes"])],
            "chunks")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return man[["variable", "t", "ci", "cj", "addr", "nbytes"]]


def _write_netcdf4_parallel_tail(
    keyed: DataFrame, variables, path: str, addrs: dict, order, build,
    nt: int, rows: int, cols: int, ch: int, cw: int, esize: int,
    fletcher32: bool, filtered: bool, fa_page_bits: int, data_start: int,
    encode_chunk,
) -> pd.DataFrame:
    """Executor-parallel pwrite tail for ``write_netcdf4(parallel=True)``:
    with no compression every chunk's stored size is ``ch*cw*esize`` (+4
    for the fletcher32 suffix) — plan-time-known, so every chunk slot has
    a computed address and the fixed-array index a computed position
    (its dense blob size is slot-occupancy-invariant). The front matter
    is written up front, one Spark job ``os.pwrite``\\ s each existing
    chunk at its slot address — the classic-NetCDF sink pattern
    (``write_netcdf``), scaled out instead of streamed through the
    driver — and the index is patched in afterwards from the collected
    manifest (chunk KEYS only; the data bytes never visit the driver).
    Absent slots stay UNDEF in the index → readers see fill, and their
    file ranges are holes (sparse on any modern fs). Reference
    single-file sink: netcdf-c via
    /root/reference/src/pyramids/netcdf/netcdf.py:849-982."""
    ny, nx = keys.n_tiles(rows, cols, ch, cw)
    csize = ch * cw * esize
    stored = csize + (4 if fletcher32 else 0)
    nslots = nt * ny * nx
    base = {v: data_start + vi * nslots * stored
            for vi, v in enumerate(variables)}
    # the dense FAHD+FADB blob always carries all nslots entries (absent
    # → UNDEF), so its size — and every index root — is known NOW
    blob_size = len(_fixed_array_blob({}, nslots, csize, filtered, 0,
                                      page_bits=fa_page_bits)[1])
    pos = _align8(data_start + len(variables) * nslots * stored)
    blob_at = {}
    for v in variables:
        addrs[f"btree_{v}"] = pos  # FAHD root = blob start
        blob_at[v] = pos
        pos += blob_size
    eof = pos
    comp = build(addrs)
    with open(path, "wb") as fh:
        fh.write(_superblock(eof, addrs["ohdr_/"], addrs["gbtree"],
                             addrs["heap_hdr"]))
        for k in order:
            fh.seek(addrs[k])
            fh.write(comp[k])
        fh.truncate(eof)

    def pwrite_chunk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        raw = encode_chunk(key, pdf)  # loud var/t/extent guards inside
        v, tk = str(key[0]), int(key[1])
        t, ci, cj = _chunk_of(tk, rows, cols, ch, cw)
        at = base[v] + tk * stored  # tk IS the dense slot index
        fd = os.open(path, os.O_WRONLY)
        try:
            _staged._pwrite_all(fd, raw, at)  # pwrite may write short on NFS
        finally:
            os.close(fd)
        return pd.DataFrame({
            "variable": [v], "t": [t], "ci": [ci], "cj": [cj],
            "addr": [at], "nbytes": [len(raw)],
        })

    man = keyed.groupBy("variable", "tk").applyInPandas(
        pwrite_chunk,
        "variable string, t long, ci long, cj long, addr long, nbytes long",
    ).orderBy("variable", "t", "ci", "cj").toPandas()

    with open(path, "r+b") as fh:
        for v in variables:
            mv = man[man["variable"] == v]
            slots = {
                (int(t) * ny + int(ci)) * nx + int(cj): (int(at), stored, 0)
                for t, ci, cj, at in zip(mv["t"], mv["ci"], mv["cj"],
                                         mv["addr"])
            }
            root, blob = _fixed_array_blob(
                slots, nslots, csize, filtered, blob_at[v],
                page_bits=fa_page_bits)
            assert root == blob_at[v] and len(blob) == blob_size
            fh.seek(blob_at[v])
            fh.write(blob)
    return man


# ---------------------------------------------------------------------------
# reader — driver-side metadata parse (KB-scale), executor byte-range decode
# ---------------------------------------------------------------------------

def _parse_dtype(buf: bytes):
    """Datatype message → descriptor: ("np", dtype) | ("str", n) |
    ("ref", n) | ("vlen", base) | ("vlenstr", n) | ("other", cls, n)."""
    cls = buf[0] & 0x0F
    size = struct.unpack_from("<I", buf, 4)[0]
    b0 = buf[1]
    order = ">" if b0 & 1 else "<"
    if cls == 0:
        kind = "i" if b0 & 8 else "u"
        return ("np", np.dtype(f"{order}{kind}{size}"))
    if cls == 1:
        if size not in (4, 8):
            raise NotImplementedError(f"{size}-byte IEEE float")
        return ("np", np.dtype(f"{order}f{size}"))
    if cls == 3:
        return ("str", size)
    if cls == 7:
        return ("ref", size)
    if cls == 9:
        if b0 & 0x0F == 0:
            return ("vlen", _parse_dtype(buf[8:]))
        return ("vlenstr", size)
    return ("other", cls, size)


def _parse_dspace(buf: bytes) -> "tuple[list[int], list[int] | None]":
    ver, nd, flags = buf[0], buf[1], buf[2]
    p = 8 if ver == 1 else 4
    dims = [struct.unpack_from("<Q", buf, p + 8 * i)[0] for i in range(nd)]
    maxd = None
    if flags & 1:
        maxd = [struct.unpack_from("<Q", buf, p + 8 * (nd + i))[0]
                for i in range(nd)]
    return dims, maxd


def _parse_fill(body: bytes) -> "bytes | None":
    ver = body[0]
    if ver in (1, 2):
        if ver == 2 and not body[3]:
            return None
        size = struct.unpack_from("<I", body, 4)[0]
        return body[8:8 + size] if size else None
    if ver == 3:
        if body[1] & 0x20:
            size = struct.unpack_from("<I", body, 2)[0]
            return body[6:6 + size]
        return None
    return None


def _parse_layout(body: bytes):
    ver = body[0]
    if ver not in (3, 4):
        raise NotImplementedError(
            f"data layout message v{ver} (v3 = the libhdf5-1.8+ layout, "
            "v4 = the 1.10 'latest'-format chunk indexes)"
        )
    cls = body[1]
    if cls == 0:
        size = struct.unpack_from("<H", body, 2)[0]
        return ("compact", body[4:4 + size])
    if cls == 1:
        addr, size = struct.unpack_from("<QQ", body, 2)
        return ("contig", addr, size)
    if ver == 3:
        nd = body[2]
        bt = struct.unpack_from("<Q", body, 3)[0]
        cdims = [struct.unpack_from("<I", body, 11 + 4 * i)[0]
                 for i in range(nd)]
        return ("chunked", bt, cdims[:-1], cdims[-1])
    # v4 chunked: flags, rank+1 dims of enc bytes each (element size
    # last, like v3), a chunk-index type and its fields, index address
    flags, nd, enc = body[2], body[3], body[4]
    p = 5
    cdims = [int.from_bytes(body[p + enc * i:p + enc * (i + 1)], "little")
             for i in range(nd)]
    p += enc * nd
    itype = body[p]
    p += 1
    info: dict = {}
    if itype == 1:  # single chunk: filtered size + mask when filtered
        if flags & 0x02:
            fsz, fmask = struct.unpack_from("<QI", body, p)
            p += 12
            info = {"fsize": fsz, "fmask": fmask}
    elif itype == 2:  # implicit
        pass
    elif itype == 3:  # fixed array
        info = {"page_bits": body[p]}
        p += 1
    elif itype == 4:  # extensible array
        # five single-byte creation params, in H5O__layout_decode order
        # (note: min POINTERS precedes min ELEMENTS here — the EAHD
        # header stores the same two fields in the OPPOSITE order)
        info = {"max_bits": body[p], "index_elems": body[p + 1],
                "min_ptrs": body[p + 2], "min_elems": body[p + 3],
                "page_bits": body[p + 4]}
        p += 5
    elif itype == 5:  # version 2 B-tree
        info = {"node_size": struct.unpack_from("<I", body, p)[0],
                "split": body[p + 4], "merge": body[p + 5]}
        p += 6
    else:
        raise NotImplementedError(f"v4 chunk index type {itype}")
    (addr,) = struct.unpack_from("<Q", body, p)
    return ("chunked4", itype, flags, cdims[:-1], cdims[-1], addr, info)


def _parse_filters(body: bytes) -> "list[tuple[int, int, list[int]]]":
    ver, nf = body[0], body[1]
    p = 8 if ver == 1 else 2
    out = []
    for _ in range(nf):
        fid = struct.unpack_from("<H", body, p)[0]
        p += 2
        nlen = 0
        if ver == 1 or fid >= 256:
            nlen = struct.unpack_from("<H", body, p)[0]
            p += 2
        flags, ncv = struct.unpack_from("<HH", body, p)
        p += 4
        if nlen:
            p += _align8(nlen) if ver == 1 else nlen
        cvals = [struct.unpack_from("<I", body, p + 4 * i)[0]
                 for i in range(ncv)]
        p += 4 * ncv
        if ver == 1 and ncv % 2:
            p += 4
        out.append((fid, flags, cvals))
    return out


def _fletcher32(data: bytes) -> int:
    """HDF5's Fletcher-32 (``H5_checksum_fletcher32``): big-endian 16-bit
    words, an odd trailing byte high-padded, each sum reduced mod 65535
    with the 0xffff representative for nonzero multiples — bit-equal to
    the reference's fold arithmetic. Vectorized: S1 = Σ w_j, S2 = Σ w_j ·
    (n − j) (each ``sum2 += sum1`` step adds w_j once per later step);
    segmented so uint64 partials cannot overflow on huge chunks."""
    w = np.frombuffer(data[: len(data) & ~1], ">u2")
    odd = len(data) & 1
    n = len(w) + odd
    s1 = s2 = 0
    # segment bound: each partial is ≤ 65535 · n · step, so cap step to
    # keep partials under 2^62 even for multi-GiB chunks (n up to 2^31)
    step = min(1 << 20, max(1, (1 << 62) // (65535 * max(n, 1))))
    for k in range(0, len(w), step):
        seg = w[k:k + step].astype(np.uint64)
        mult = np.arange(n - k, n - k - len(seg), -1, dtype=np.uint64)
        s1 += int(seg.sum())
        s2 += int((seg * mult).sum())
    if odd:
        s1 += data[-1] << 8
        s2 += data[-1] << 8  # the pad word's remaining-steps multiplier is 1

    def canon(x: int) -> int:
        return 0xFFFF if x and x % 65535 == 0 else x % 65535

    return (canon(s2) << 16) | canon(s1)


def _defilter(raw: bytes, ids: "list[int]", mask: int, esize: int,
              out_size: "int | None" = None) -> bytes:
    """Undo the filter pipeline back-to-front, honoring the per-chunk
    filter mask (bit i set = filter i was SKIPPED for this chunk).
    ``out_size`` is the raw chunk byte count — zstd frames need it."""
    for i in range(len(ids) - 1, -1, -1):
        if mask & (1 << i):
            continue
        if ids[i] == 1:
            raw = zlib.decompress(raw)
        elif ids[i] == 32015:  # registered Zstandard filter (netCDF 4.9+)
            import pyarrow as pa

            raw = pa.Codec("zstd").decompress(
                raw, decompressed_size=out_size, asbytes=True)
        elif ids[i] == 2:
            raw = np.frombuffer(raw, "u1").reshape(esize, -1).T.tobytes()
        elif ids[i] == 3:  # fletcher32: verify, strip the trailing checksum
            data = raw[:-4]
            (stored,) = struct.unpack("<I", bytes(raw[-4:]))
            # pre-1.6.3 libhdf5 stored the two 16-bit halves swapped;
            # accept both, like H5Z__filter_fletcher32 does
            legacy = ((stored & 0xFFFF) << 16) | (stored >> 16)
            if _fletcher32(data) not in (stored, legacy):
                raise ValueError("fletcher32 checksum mismatch in HDF5 chunk")
            raw = data
        else:  # guarded at plan time; defensive here
            raise NotImplementedError(f"HDF5 filter id {ids[i]}")
    return raw


class _H5Meta:
    """Driver-side HDF5 metadata walker. Every read here is KB-scale
    (superblock, object headers, B-tree nodes, local/global heaps); bulk
    chunk payloads are read on executors only."""

    def __init__(self, path: str):
        self.path = path
        self.fh = open(path, "rb")
        try:
            if self.fh.read(8) != _SIG:
                raise ValueError("not an HDF5 file")
            ver = self.fh.read(1)[0]
            if ver in (0, 1):
                rest = self.fh.read(15)
                szoff, szlen = rest[4], rest[5]
                if ver == 1:
                    self.fh.read(4)  # indexed-storage K + reserved
                self.fh.read(32)  # base/freespace/eof/driver addresses
                ste = self.fh.read(40)
                self.root = struct.unpack_from("<Q", ste, 8)[0]
            elif ver in (2, 3):
                szoff, szlen, _flags = struct.unpack(
                    "<BBB", self.fh.read(3))
                _base, _ext, _eof, self.root = struct.unpack(
                    "<QQQQ", self.fh.read(32)
                )
            else:
                raise NotImplementedError(f"HDF5 superblock version {ver}")
            if (szoff, szlen) != (8, 8):
                raise NotImplementedError(
                    f"offsets/lengths of {szoff}/{szlen} bytes (8/8 only — "
                    "every real-world producer uses 64-bit files)"
                )
        except Exception:
            self.fh.close()
            raise

    def close(self) -> None:
        self.fh.close()

    # -- object headers -----------------------------------------------------

    def messages(self, addr: int) -> "list[tuple[int, bytes, int]]":
        fh = self.fh
        fh.seek(addr)
        if fh.read(4) == b"OHDR":
            return self._messages_v2()
        fh.seek(addr)
        ver, nmsgs, _rc, hsize = struct.unpack("<BxHII", fh.read(12))
        if ver != 1:
            raise NotImplementedError(f"object header version {ver}")
        msgs, blocks = [], [(addr + 16, hsize)]
        while blocks and len(msgs) < nmsgs:
            a, sz = blocks.pop(0)
            fh.seek(a)
            buf = fh.read(sz)
            p = 0
            while p + 8 <= sz and len(msgs) < nmsgs:
                t, s, fl = struct.unpack_from("<HHB", buf, p)
                p += 8
                body = buf[p:p + s]
                p += s
                if t == 0x0010:
                    blocks.append(struct.unpack_from("<QQ", body))
                msgs.append((t, body, fl))
        return msgs

    def _messages_v2(self) -> "list[tuple[int, bytes, int]]":
        fh = self.fh
        ver, flags = struct.unpack("<BB", fh.read(2))
        if ver != 2:
            raise NotImplementedError(f"OHDR version {ver}")
        if flags & 0x20:
            fh.read(16)  # access/mod/change/birth times
        if flags & 0x10:
            fh.read(4)  # max-compact / min-dense attr counts
        chunk0 = int.from_bytes(fh.read(1 << (flags & 3)), "little")
        track = bool(flags & 0x04)
        msgs, blocks = [], [(fh.tell(), chunk0)]
        while blocks:
            a, sz = blocks.pop(0)
            fh.seek(a)
            buf = fh.read(sz)
            p, hdr = 0, 4 + (2 if track else 0)
            while p + hdr <= sz:
                t, s, fl = buf[p], struct.unpack_from("<H", buf, p + 1)[0], \
                    buf[p + 3]
                p += hdr
                if p + s > sz:
                    break  # trailing gap (zeros smaller than a msg header)
                body = buf[p:p + s]
                p += s
                if t == 0x10:
                    ca, cs = struct.unpack_from("<QQ", body)
                    blocks.append((ca + 4, cs - 8))  # skip OCHK sig+checksum
                if t:
                    msgs.append((t, body, fl))
        return msgs

    # -- groups ---------------------------------------------------------------

    def group_links(self, msgs) -> "dict[str, int]":
        links: "dict[str, int]" = {}
        for t, body, _fl in msgs:
            if t == 0x0011:
                bt, hp = struct.unpack_from("<QQ", body)
                links.update(self._symtab_links(bt, hp))
            elif t == 0x0002:
                # Link Info: dense (fractal-heap) link storage appears
                # when a 'latest'-format group passes 8 links — walk the
                # name-index v2 B-tree (type 5: 4-byte name hash FIRST,
                # then the 7-byte heap ID — the hash/ID order is the
                # OPPOSITE of the type-8 attribute record) and parse each
                # heap object as a Link message
                p = 2 + (8 if body[1] & 1 else 0)
                fheap, name_bt2 = struct.unpack_from("<QQ", body, p)
                if fheap != UNDEF:
                    heap = self._fractal_heap(fheap)
                    for _rt, rec in self._v2btree_records(name_bt2, (5,)):
                        name, a = self._parse_link(heap(rec[4:11]))
                        if a is not None:
                            links[name] = a
            elif t == 0x0006:
                name, a = self._parse_link(body)
                if a is not None:
                    links[name] = a
        return links

    @staticmethod
    def _parse_link(body: bytes) -> "tuple[str, int | None]":
        flags = body[1]
        p, ltype = 2, 0
        if flags & 0x08:
            ltype = body[p]
            p += 1
        if flags & 0x04:
            p += 8  # creation order
        if flags & 0x10:
            p += 1  # charset
        lsz = 1 << (flags & 3)
        nlen = int.from_bytes(body[p:p + lsz], "little")
        p += lsz
        name = body[p:p + nlen].decode()
        p += nlen
        if ltype == 0:  # hard link → object header address
            return name, struct.unpack_from("<Q", body, p)[0]
        return name, None  # soft/external links carry no object

    def _symtab_links(self, btree_addr: int, heap_addr: int
                      ) -> "dict[str, int]":
        fh = self.fh
        fh.seek(heap_addr)
        if fh.read(4) != b"HEAP":
            raise ValueError("bad local heap signature")
        fh.read(4)
        dsize, _free, daddr = struct.unpack("<QQQ", fh.read(24))
        fh.seek(daddr)
        heap = fh.read(dsize)
        out: "dict[str, int]" = {}

        def walk(addr: int):
            fh.seek(addr)
            if fh.read(4) != b"TREE":
                raise ValueError("bad group B-tree signature")
            _typ, lev, n = struct.unpack("<BBH", fh.read(4))
            fh.read(16)  # siblings
            buf = fh.read((2 * n + 1) * 8)
            kids = [struct.unpack_from("<Q", buf, (2 * i + 1) * 8)[0]
                    for i in range(n)]
            for c in kids:
                if lev > 0:
                    walk(c)
                    continue
                fh.seek(c)
                if fh.read(4) != b"SNOD":
                    raise ValueError("bad symbol node signature")
                _v, ns = struct.unpack("<HH", fh.read(4))
                ents = fh.read(40 * ns)
                for i in range(ns):
                    noff, oaddr = struct.unpack_from("<QQ", ents, 40 * i)
                    nm = heap[noff:heap.index(b"\x00", noff)].decode()
                    out[nm] = oaddr

        walk(btree_addr)
        return out

    # -- attributes / heaps ---------------------------------------------------

    def parse_attr(self, body: bytes):
        ver = body[0]
        if ver == 1:
            nsz, dtsz, dssz = struct.unpack_from("<HHH", body, 2)
            p = 8
            name = body[p:p + nsz].split(b"\x00")[0].decode()
            p += _align8(nsz)
            dtb = body[p:p + dtsz]
            p += _align8(dtsz)
            dsb = body[p:p + dssz]
            p += _align8(dssz)
        elif ver in (2, 3):
            flags = body[1]
            nsz, dtsz, dssz = struct.unpack_from("<HHH", body, 2)
            p = 9 if ver == 3 else 8
            name = body[p:p + nsz].split(b"\x00")[0].decode()
            p += nsz
            if flags & 0x03:
                return name, None  # shared datatype/dataspace — opaque
            dtb = body[p:p + dtsz]
            p += dtsz
            dsb = body[p:p + dssz]
            p += dssz
        else:
            return f"__attr_v{ver}", None
        try:
            desc = _parse_dtype(dtb)
            dims, _ = _parse_dspace(dsb)
        except Exception:
            return name, None
        return name, self._decode_value(desc, dims, body[p:])

    def _decode_value(self, desc, dims, raw: bytes):
        n = 1
        for d in dims:
            n *= d
        if desc[0] == "np":
            a = np.frombuffer(raw[:n * desc[1].itemsize], desc[1])
            return a.copy() if dims else a[0]
        if desc[0] == "str":
            return raw[:desc[1]].split(b"\x00")[0].decode(errors="replace")
        if desc[0] == "vlen" and desc[1][0] == "ref":
            out = []
            for i in range(n):
                ln, ga, gi = struct.unpack_from("<IQI", raw, 16 * i)
                data = self._gheap_obj(ga, gi)
                out.append([struct.unpack_from("<Q", data, 8 * k)[0]
                            for k in range(ln)])
            return out
        return None  # compound/other (e.g. REFERENCE_LIST) — unused

    def _gheap_obj(self, addr: int, idx: int) -> bytes:
        fh = self.fh
        fh.seek(addr)
        if fh.read(4) != b"GCOL":
            raise ValueError("bad global heap signature")
        fh.read(4)
        size = struct.unpack("<Q", fh.read(8))[0]
        buf = fh.read(size - 16)
        p = 0
        while p + 16 <= len(buf):
            i, _rc, sz = struct.unpack_from("<HH4xQ", buf, p)
            p += 16
            if i == idx:
                return buf[p:p + sz]
            if i == 0:
                break
            p += _align8(sz)
        raise KeyError(f"global heap object {idx} at {addr}")

    # -- datasets ---------------------------------------------------------------

    def dataset(self, addr: int, msgs=None) -> dict:
        if msgs is None:
            msgs = self.messages(addr)
        d = {"addr": addr, "attrs": {}, "filters": [], "fill": None,
             "shape": None, "maxshape": None, "dtype": None, "layout": None}
        for t, body, fl in msgs:
            if fl & 0x02 and t in (0x0001, 0x0003, 0x0005, 0x0008, 0x000B):
                raise NotImplementedError("shared (committed) header message")
            if t == 0x0001:
                d["shape"], d["maxshape"] = _parse_dspace(body)
            elif t == 0x0003:
                d["dtype"] = _parse_dtype(body)
            elif t == 0x0005:
                d["fill"] = _parse_fill(body)
            elif t == 0x0008:
                d["layout"] = _parse_layout(body)
            elif t == 0x000B:
                d["filters"] = _parse_filters(body)
            elif t == 0x000C:
                nm, val = self.parse_attr(body)
                d["attrs"][nm] = val
            elif t == 0x0015:
                # Attribute Info: dense (fractal-heap) attribute storage
                # appears when a 'latest'-format object passes 8 attrs —
                # the shape CF variables (units/long_name/valid_range/…)
                # hit routinely. Walk the name-index v2 B-tree (type 8:
                # 8-byte heap ID + flags + corder + hash) and parse each
                # heap object as an Attribute message.
                p = 2 + (2 if body[1] & 1 else 0)
                fheap, name_bt2 = struct.unpack_from("<QQ", body, p)
                if fheap != UNDEF:
                    heap = self._fractal_heap(fheap)
                    for _rt, rec in self._v2btree_records(name_bt2, (8,)):
                        nm, val = self.parse_attr(heap(rec[:8]))
                        d["attrs"][nm] = val
        return d

    def iter_chunks(self, btree_addr: int, ndims_p1: int):
        """Walk a v1 chunk B-tree (any depth) → (element offsets, data
        address, stored nbytes, filter mask) per chunk."""
        if btree_addr == UNDEF:
            return
        fh = self.fh
        keysz = 8 + 8 * ndims_p1
        stack = [btree_addr]
        while stack:
            fh.seek(stack.pop())
            if fh.read(4) != b"TREE":
                raise ValueError("bad chunk B-tree signature")
            _typ, lev, n = struct.unpack("<BBH", fh.read(4))
            fh.read(16)
            buf = fh.read(n * (keysz + 8) + keysz)
            for i in range(n):
                off = i * (keysz + 8)
                nbytes, mask = struct.unpack_from("<II", buf, off)
                child = struct.unpack_from("<Q", buf, off + keysz)[0]
                if lev > 0:
                    stack.append(child)
                else:
                    offs = [struct.unpack_from("<Q", buf, off + 8 + 8 * k)[0]
                            for k in range(ndims_p1)]
                    yield tuple(offs[:-1]), child, nbytes, mask

    def iter_chunks_v4(self, lay, shape: "tuple[int, ...]", filtered: bool,
                       maxshape: "list[int] | None" = None):
        """Walk a v4 chunk index → (element offsets, data address, stored
        nbytes, filter mask) per allocated chunk — the same contract as
        :meth:`iter_chunks`. Covered index types: 1 single chunk,
        2 implicit (contiguous unfiltered chunks in row-major slot
        order), 3 fixed array (FAHD/FADB [+ paged data block]),
        4 extensible array (EAHD/EAIB/EASB/EADB [+ paged data blocks];
        element index = row-major slot over the chunk grid with the one
        unlimited dimension swizzled to the front, per
        ``H5VM_swizzle_coords``), 5 version-2 B-tree (BTHD/BTIN/BTLF,
        record types 10/11, any depth)."""
        _, itype, flags, cdims, esz, addr, info = lay
        if addr == UNDEF:
            return
        rank = len(cdims)
        grid = [max(1, -(-int(s) // int(c))) for s, c in zip(shape, cdims)]
        csize = int(np.prod(cdims)) * esz

        def offs_of(idx: int) -> "tuple[int, ...]":
            offs = []
            for g, c in zip(reversed(grid), reversed(cdims)):
                offs.append((idx % g) * int(c))
                idx //= g
            return tuple(reversed(offs))

        unlim = 0
        if maxshape is not None:
            free = [i for i, m in enumerate(maxshape) if int(m) == UNDEF]
            if len(free) == 1:
                unlim = free[0]

        def ea_offs_of(idx: int) -> "tuple[int, ...]":
            return _ea_slot_offs(idx, grid, cdims, unlim)

        def inner():
            if itype == 1:  # single chunk covering the whole dataspace
                nb = info.get("fsize", csize)
                yield (0,) * rank, addr, int(nb), int(info.get("fmask", 0))
            elif itype == 2:  # implicit: fixed slots, filters impossible
                if filtered:
                    raise ValueError(
                        "implicit chunk index cannot carry filters")
                for i in range(int(np.prod(grid))):
                    yield offs_of(i), addr + i * csize, csize, 0
            elif itype == 3:
                yield from self._fixed_array_chunks(
                    addr, filtered, csize, int(np.prod(grid)), offs_of)
            elif itype == 4:
                yield from self._extensible_array_chunks(
                    addr, filtered, csize, int(np.prod(grid)), ea_offs_of)
            elif itype == 5:
                yield from self._v2btree_chunks(addr, filtered, rank, csize,
                                                cdims, grid)
            else:
                raise NotImplementedError(f"v4 chunk index type {itype}")

        # layout flag bit 0 = H5D_CHUNK_DONT_FILTER_PARTIAL_CHUNKS: edge
        # chunks are stored RAW; an all-ones mask makes _defilter skip
        # every filter for exactly those chunks
        skip_edges = bool(flags & 0x01) and filtered
        for offs, a, nb, mask in inner():
            if skip_edges and any(
                int(o) + int(c) > int(s)
                for o, c, s in zip(offs, cdims, shape)
            ):
                mask = 0xFFFFFFFF
            yield offs, a, nb, mask

    def _fixed_array_chunks(self, addr, filtered, csize, nslots, offs_of):
        fh = self.fh
        fh.seek(addr)
        hdr = fh.read(28)
        if hdr[:4] != b"FAHD":
            raise ValueError("bad fixed-array header signature")
        _ver, client, entry, page_bits = struct.unpack_from("<4B", hdr, 4)
        maxn, dblk = struct.unpack_from("<QQ", hdr, 8)
        if client != (1 if filtered else 0):
            raise ValueError(
                f"fixed-array client {client} disagrees with the filter "
                "pipeline"
            )
        if dblk == UNDEF:
            return
        sl = entry - 12 if filtered else 0  # stored-size field width
        fh.seek(dblk)
        pre = fh.read(14)
        if pre[:4] != b"FADB":
            raise ValueError("bad fixed-array data block signature")

        def parse(buf: bytes, base: int):
            for j in range(len(buf) // entry):
                e = buf[j * entry:(j + 1) * entry]
                (a,) = struct.unpack_from("<Q", e)
                if a == UNDEF:
                    continue
                if filtered:
                    nb = int.from_bytes(e[8:8 + sl], "little")
                    (mask,) = struct.unpack_from("<I", e, 8 + sl)
                else:
                    nb, mask = csize, 0
                yield offs_of(base + j), a, nb, mask

        per_page = 1 << page_bits
        if maxn <= per_page:
            yield from parse(fh.read(int(maxn) * entry), 0)
            return
        npages = -(-int(maxn) // per_page)
        bitmap = fh.read((npages + 7) // 8)
        fh.read(4)  # data-block checksum (not verified, like OHDR sums)
        for p in range(npages):
            cnt = min(per_page, int(maxn) - p * per_page)
            buf = fh.read(cnt * entry)
            fh.read(4)  # page checksum
            if bitmap[p // 8] & (0x80 >> (p % 8)):  # H5VM_bit_get: MSB-first
                yield from parse(buf, p * per_page)

    def _extensible_array_chunks(self, addr, filtered, csize, nslots,
                                 offs_of):
        """Extensible Array chunk index (the 1.10 'latest' layout for one
        unlimited dimension — the default netCDF-4/xarray time-series
        shape): EAHD header → EAIB index block → EADB data blocks, with
        EASB super blocks and paged data blocks past the direct range.
        Geometry is recomputed from the stored creation params exactly as
        ``H5EA__hdr_init`` does; page-init bitmaps are MSB-first
        (``H5VM_bit_get``). Reference behavior:
        /root/reference/src/pyramids/netcdf/netcdf.py:849-982 (via
        netcdf-c/libhdf5)."""
        fh = self.fh
        fh.seek(addr)
        hdr = fh.read(72)
        if hdr[:4] != b"EAHD":
            raise ValueError("bad extensible-array header signature")
        client, esz, max_bits, idx_elmts, min_elmts, min_ptrs, pbits = \
            hdr[5], hdr[6], hdr[7], hdr[8], hdr[9], hdr[10], hdr[11]
        if client != (1 if filtered else 0):
            raise ValueError(
                f"extensible-array client {client} disagrees with the "
                "filter pipeline")
        ib_addr = struct.unpack_from("<Q", hdr, 60)[0]
        if ib_addr == UNDEF:
            return
        sl = esz - 12 if filtered else 0
        arr_off = (max_bits + 7) // 8
        page_n = 1 << pbits
        info = _ea_sblk_info(max_bits, min_elmts)
        nsblks = len(info)
        nsd = 2 * (min_ptrs.bit_length() - 1)
        ndirect = info[nsd][3] if nsd < nsblks else sum(
            nd for nd, _, _, _ in info)

        def elems(buf: bytes, p: int, cnt: int, base_idx: int):
            for j in range(cnt):
                (a,) = struct.unpack_from("<Q", buf, p)
                if filtered:
                    nb = int.from_bytes(buf[p + 8:p + 8 + sl], "little")
                    (mask,) = struct.unpack_from("<I", buf, p + 8 + sl)
                else:
                    nb, mask = csize, 0
                p += esz
                i = base_idx + j
                if a != UNDEF and i < nslots:
                    yield offs_of(i), a, int(nb), int(mask)

        def dblock(a: int, ne: int, base_idx: int, bitmap, bm_off: int):
            pre = 14 + arr_off
            npages = ne // page_n if ne > page_n else 0
            fh.seek(a)
            if npages == 0:
                buf = fh.read(pre + ne * esz + 4)
                if buf[:4] != b"EADB":
                    raise ValueError("bad EA data block signature")
                yield from elems(buf, pre, ne, base_idx)
                return
            if fh.read(4) != b"EADB":
                raise ValueError("bad EA data block signature")
            if bitmap is None:
                # a paged data block reached through a DIRECT index-block
                # pointer: real libhdf5 params never produce this shape
                # (and our writer rejects it) — reject loudly rather than
                # silently skipping every page as missing
                raise NotImplementedError(
                    "extensible-array direct data block with paging "
                    f"({npages} pages) — unsupported EA geometry")
            psize = page_n * esz + 4
            for p in range(npages):
                if not (bitmap[bm_off + p // 8] & (0x80 >> (p % 8))):
                    continue
                fh.seek(a + pre + 4 + p * psize)
                yield from elems(fh.read(psize - 4), 0, page_n,
                                 base_idx + p * page_n)

        fh.seek(ib_addr)
        # geometries where nsd >= nsblks keep every block direct (the
        # ndirect fallback above already summed them all): no super-block
        # pointers exist, and a negative count would corrupt the struct fmt
        nsb_ptrs = max(0, nsblks - nsd)
        buf = fh.read(14 + idx_elmts * esz + (ndirect + nsb_ptrs) * 8 + 4)
        if buf[:4] != b"EAIB":
            raise ValueError("bad extensible-array index block signature")
        yield from elems(buf, 14, idx_elmts, 0)
        p = 14 + idx_elmts * esz
        dblk_addrs = list(struct.unpack_from(f"<{ndirect}Q", buf, p))
        p += ndirect * 8
        sblk_addrs = list(struct.unpack_from(f"<{nsb_ptrs}Q", buf, p))

        for d, a in enumerate(dblk_addrs):
            if a == UNDEF:
                continue
            u = next(i for i, (nd, _, _, sd) in enumerate(info)
                     if sd <= d < sd + nd)
            nd_u, ne_u, si_u, sd_u = info[u]
            base_idx = idx_elmts + si_u + (d - sd_u) * ne_u
            yield from dblock(a, ne_u, base_idx, None, 0)

        for j, sa in enumerate(sblk_addrs):
            if sa == UNDEF:
                continue
            nd_u, ne_u, si_u, _ = info[nsd + j]
            npages = ne_u // page_n if ne_u > page_n else 0
            pis = (npages + 7) // 8 if npages else 0
            fh.seek(sa)
            sb = fh.read(14 + arr_off + nd_u * pis + nd_u * 8 + 4)
            if sb[:4] != b"EASB":
                raise ValueError("bad EA super block signature")
            q = 14 + arr_off
            bitmap = sb[q:q + nd_u * pis]
            q += nd_u * pis
            sub = struct.unpack_from(f"<{nd_u}Q", sb, q)
            for k, a in enumerate(sub):
                if a == UNDEF:
                    continue
                yield from dblock(a, ne_u, idx_elmts + si_u + k * ne_u,
                                  bitmap if pis else None, k * pis)

    def _v2btree_records(self, addr: int, want_rtypes: "tuple[int, ...]"):
        """Walk ANY v2 B-tree (BTHD header → BTIN internals / BTLF leaf
        nodes, any depth) → (record type, raw record bytes) per record.
        The H5B2 node-capacity cascade fixes the internal-node
        child-pointer field widths at every depth."""
        fh = self.fh
        fh.seek(addr)
        hdr = fh.read(4 + 1 + 1 + 4 + 2 + 2 + 1 + 1 + 8 + 2 + 8 + 4)
        if hdr[:4] != b"BTHD":
            raise ValueError("bad v2 B-tree header signature")
        rtype = hdr[5]
        node_size, rec_size, depth = struct.unpack_from("<IHH", hdr, 6)
        nrec_root = struct.unpack_from("<H", hdr, 24)[0]
        root = struct.unpack_from("<Q", hdr, 16)[0]
        if rtype not in want_rtypes:
            raise ValueError(
                f"v2 B-tree record type {rtype} (expected {want_rtypes})")
        if root == UNDEF or nrec_root == 0:
            return
        _, _, _, cum_size, max_nrec_size = _b2_sizes(
            node_size, rec_size, depth=depth)

        def walk(a: int, d: int, nrec: int):
            fh.seek(a)
            buf = fh.read(node_size)
            if d == 0:
                if buf[:4] != b"BTLF":
                    raise ValueError("bad v2 B-tree leaf signature")
                p = 6
                for _ in range(nrec):
                    yield rtype, buf[p:p + rec_size]
                    p += rec_size
                return
            if buf[:4] != b"BTIN":
                raise ValueError("bad v2 B-tree internal-node signature")
            p = 6 + nrec * rec_size
            for i in range(nrec + 1):
                (ca,) = struct.unpack_from("<Q", buf, p)
                p += 8
                cn = int.from_bytes(buf[p:p + max_nrec_size], "little")
                p += max_nrec_size
                if d > 1:  # total-record count, width of the CHILD level
                    p += cum_size[d - 1]
                yield from walk(ca, d - 1, cn)
            p = 6
            for _ in range(nrec):
                yield rtype, buf[p:p + rec_size]
                p += rec_size

        yield from walk(root, depth, nrec_root)

    def _v2btree_chunks(self, addr, filtered, rank, csize, cdims, grid):
        """Version-2 B-tree chunk index (> 1 unlimited dim under the
        'latest' flag): record type 10 (unfiltered: addr + scaled
        offsets) or 11 (filtered: addr, var-width size, 4-byte mask,
        scaled offsets)."""
        want = (11,) if filtered else (10,)
        for _rt, rec in self._v2btree_records(addr, want):
            (a,) = struct.unpack_from("<Q", rec, 0)
            q = 8
            if filtered:
                sl = len(rec) - 8 - 4 - 8 * rank
                nb = int.from_bytes(rec[q:q + sl], "little")
                (mask,) = struct.unpack_from("<I", rec, q + sl)
                q += sl + 4
            else:
                nb, mask = csize, 0
            scaled = struct.unpack_from(f"<{rank}Q", rec, q)
            offs = tuple(int(s) * int(c) for s, c in zip(scaled, cdims))
            yield offs, a, nb, mask

    def _fractal_heap(self, addr: int):
        """Fractal heap (FRHP) reader for dense attribute/link storage →
        resolver ``get(heap_id) -> object bytes``. Covers the shape small
        metadata heaps take: a root DIRECT block (FHDB) holding every
        object, MANAGED heap IDs (version 0, type 0: var-width heap
        offset + length per the header's doubling-table params). Indirect
        roots and huge/tiny IDs reject loudly — attribute/link heaps only
        grow past one direct block at thousands of entries."""
        fh = self.fh
        fh.seek(addr)
        hdr = fh.read(146)
        if hdr[:4] != b"FRHP":
            raise ValueError("bad fractal heap header signature")
        heap_id_len, io_filter_len = struct.unpack_from("<HH", hdr, 5)
        flags = hdr[9]
        (max_man_size,) = struct.unpack_from("<I", hdr, 10)
        man_size = struct.unpack_from("<Q", hdr, 46)[0]
        huge_n = struct.unpack_from("<Q", hdr, 86)[0]
        tiny_n = struct.unpack_from("<Q", hdr, 102)[0]
        max_direct, = struct.unpack_from("<Q", hdr, 120)
        max_heap_bits, = struct.unpack_from("<H", hdr, 128)
        table_addr, = struct.unpack_from("<Q", hdr, 132)
        curr_rows, = struct.unpack_from("<H", hdr, 140)
        if io_filter_len:
            raise NotImplementedError("filtered fractal heap")
        if huge_n or tiny_n:
            # reject at parse time from the header counts — clearer than
            # waiting for get() to dereference a huge/tiny heap ID
            raise NotImplementedError(
                "fractal heap containing huge/tiny objects "
                "(managed IDs only)")
        if curr_rows != 0:
            raise NotImplementedError(
                "fractal heap with an INDIRECT root block — metadata "
                "heaps this large (thousands of attributes/links) are "
                "out of scope")
        off_size = (max_heap_bits + 7) // 8
        len_size = min(((max_direct.bit_length() - 1) + 7) // 8,
                       ((max(max_man_size, 1).bit_length() - 1) // 8) + 1)
        fh.seek(table_addr)
        pre = 4 + 1 + 8 + off_size + (4 if flags & 0x02 else 0)
        block = fh.read(pre + int(man_size))
        if block[:4] != b"FHDB":
            raise ValueError("bad fractal heap direct block signature")

        def get(heap_id: bytes) -> bytes:
            b0 = heap_id[0]
            if (b0 >> 6) & 3 != 0:
                raise NotImplementedError(f"fractal heap ID version {b0 >> 6}")
            typ = (b0 >> 4) & 3
            if typ != 0:
                raise NotImplementedError(
                    f"fractal heap {'huge' if typ == 1 else 'tiny'} object "
                    "(managed IDs only)")
            off = int.from_bytes(heap_id[1:1 + off_size], "little")
            ln = int.from_bytes(
                heap_id[1 + off_size:1 + off_size + len_size], "little")
            if off + ln > len(block):
                raise ValueError("fractal heap object overruns direct block")
            # heap offsets address the block INCLUDING its header bytes
            return block[off:off + ln]

        return get

    def read_array(self, meta: dict) -> "np.ndarray | None":
        """Driver-side full read of a SMALL dataset (coordinate vars)."""
        desc = meta["dtype"]
        if desc is None or desc[0] != "np" or meta["layout"] is None:
            return None
        fids = [f[0] for f in meta["filters"]]
        bad = sorted(set(fids) - {1, 2, 3, 32015})
        if bad:  # same gate data variables get, for clean plan-time errors
            raise NotImplementedError(f"HDF5 filter ids {bad} unsupported")
        if 1 in fids and 32015 in fids and fids.index(1) < fids.index(32015):
            raise NotImplementedError(
                "deflate stacked before zstd — intermediate stream size "
                "is unrecoverable")
        dt = desc[1]
        shape = tuple(meta["shape"] or ())
        n = int(np.prod(shape)) if shape else 1
        lay = meta["layout"]
        fh = self.fh
        if lay[0] == "compact":
            return np.frombuffer(lay[1][:n * dt.itemsize], dt).reshape(shape)
        if lay[0] == "contig":
            if lay[1] == UNDEF:
                return None
            fh.seek(lay[1])
            return np.frombuffer(fh.read(n * dt.itemsize), dt).reshape(shape)
        if lay[0] == "chunked4":
            cdims = lay[3]
            it = self.iter_chunks_v4(lay, shape, bool(meta["filters"]),
                                     meta["maxshape"])
        else:
            _, bt, cdims, _esz = lay
            it = self.iter_chunks(bt, len(cdims) + 1)
        ids = [f[0] for f in meta["filters"]]
        out = np.zeros(shape, dt)
        for offs, addr, nbytes, mask in it:
            fh.seek(addr)
            raw = _defilter(fh.read(nbytes), ids, mask, dt.itemsize,
                            out_size=int(np.prod(cdims)) * dt.itemsize)
            arr = np.frombuffer(raw, dt).reshape(cdims)
            sl = tuple(slice(o, min(o + c, s))
                       for o, c, s in zip(offs, cdims, shape))
            out[sl] = arr[tuple(slice(0, s.stop - s.start) for s in sl)]
        return out


def read_netcdf4(
    spark: SparkSession, path: str, row_block: int = 256
) -> "tuple[DataFrame, Grid, dict]":
    """Open a netCDF-4 (HDF5) file → (long cell table ``(variable, t,
    band, row, col, value)``, Grid, meta). Dimensions resolve through the
    netCDF-4 dimension-scale convention (``DIMENSION_LIST`` object
    references → ``CLASS="DIMENSION_SCALE"`` datasets), NOT by shape
    matching. Georeferencing: this engine's global attrs when present,
    else uniform 1-D coordinate variables (CF ascending-y files flip).
    Cells equal to the variable's fill value (HDF5 fill message or
    ``_FillValue`` attribute) drop; chunks absent from the B-tree are
    all-fill and cost nothing. Reference behavior:
    ``/root/reference/src/pyramids/netcdf/netcdf.py:849-982``."""
    h5 = _H5Meta(path)
    root_msgs = h5.messages(h5.root)
    gatts = {}
    for t, body, _fl in root_msgs:
        if t == 0x000C:
            nm, val = h5.parse_attr(body)
            gatts[nm] = val

    objs: "dict[str, dict]" = {}

    def expand(prefix: str, msgs):
        for nm, addr in h5.group_links(msgs).items():
            m = h5.messages(addr)
            meta = h5.dataset(addr, m)
            if meta["shape"] is None and meta["layout"] is None:
                expand(prefix + nm + "/", m)  # netCDF-4 subgroup
            else:
                objs[prefix + nm] = meta

    expand("", root_msgs)

    scales = {m["addr"]: nm for nm, m in objs.items()
              if m["attrs"].get("CLASS") == "DIMENSION_SCALE"}
    usable: "dict[str, tuple[dict, list[str]]]" = {}
    for nm, m in objs.items():
        dl = m["attrs"].get("DIMENSION_LIST")
        if dl is None or m["addr"] in scales:
            continue
        try:
            dnames = [scales[refs[0]] for refs in dl]
        except (KeyError, IndexError):
            continue
        if len(dnames) in (2, 3) and m["dtype"] and m["dtype"][0] == "np":
            usable[nm] = (m, dnames)
    if not usable:
        raise ValueError("no 2-D/3-D (y, x) data variables in file")
    ydim, xdim = next(iter(usable.values()))[1][-2:]
    for nm, (m, dn) in usable.items():
        if dn[-2:] != [ydim, xdim]:
            raise NotImplementedError("data variables disagree on (y, x) dims")
    rows = int(objs[ydim]["shape"][0])
    cols = int(objs[xdim]["shape"][0])

    def coordvals(dim_nm: str) -> "np.ndarray | None":
        m = objs[dim_nm]
        name_attr = m["attrs"].get("NAME") or ""
        if isinstance(name_attr, str) and name_attr.startswith(_PHONY):
            return None  # anonymous dimension: no real coordinate values
        arr = h5.read_array(m)
        return None if arr is None else np.asarray(arr, "<f8").ravel()

    grid, flip = derive_grid(gatts, coordvals(ydim), coordvals(xdim),
                             rows, cols)
    tdims = {dn[0] for _, dn in usable.values() if len(dn) == 3}
    times = coordvals(sorted(tdims)[0]) if tdims else None

    # --- slice table (variable × chunk) ------------------------------------
    slices = []
    for nm, (m, dn) in sorted(usable.items()):
        dt = m["dtype"][1]
        ids = [f[0] for f in m["filters"]]
        bad = sorted(set(ids) - {1, 2, 3, 32015})
        if bad:
            raise NotImplementedError(
                f"variable {nm!r} uses HDF5 filter ids {bad} (deflate=1, "
                "shuffle=2, fletcher32=3, zstd=32015 only — szip/nbit "
                "stay out of scope)"
            )
        if 1 in ids and 32015 in ids and ids.index(1) < ids.index(32015):
            # zstd applied AFTER deflate: undoing zstd first needs the
            # intermediate deflate-stream size, which nothing records
            raise NotImplementedError(
                f"variable {nm!r} stacks deflate before zstd — the "
                "intermediate stream size is unrecoverable"
            )
        fill = None
        if m["fill"] is not None and len(m["fill"]) >= dt.itemsize:
            fill = float(np.frombuffer(m["fill"][:dt.itemsize], dt)[0])
        elif m["attrs"].get("_FillValue") is not None:
            fill = float(np.asarray(m["attrs"]["_FillValue"]).ravel()[0])
        three = len(dn) == 3
        ntv = int(m["shape"][0]) if three else 1
        fids = ",".join(map(str, ids))
        lay = m["layout"]
        if lay[0] in ("chunked", "chunked4"):
            if lay[0] == "chunked4":
                cdims = lay[3]
                chunk_iter = h5.iter_chunks_v4(
                    lay, tuple(int(s) for s in m["shape"]), bool(ids),
                    m["maxshape"])
            else:
                _, bt, cdims, _esz = lay
                chunk_iter = h5.iter_chunks(bt, len(cdims) + 1)
            ct = int(cdims[0]) if three else 1
            chh, cww = int(cdims[-2]), int(cdims[-1])
            for offs, addr, nbytes, mask in chunk_iter:
                t0 = int(offs[0]) if three else 0
                slices.append((nm, t0, int(offs[-2]), int(offs[-1]), addr,
                               nbytes, mask, ct, chh, cww, dt.str, fill,
                               fids, ntv))
        elif lay[0] == "contig":
            if lay[1] == UNDEF:
                continue  # never allocated: all fill
            if ids:
                raise ValueError("contiguous layout cannot carry filters")
            esz = dt.itemsize
            for t in range(ntv):
                for r0 in range(0, rows, row_block):
                    bh = min(row_block, rows - r0)
                    addr = lay[1] + (t * rows + r0) * cols * esz
                    slices.append((nm, t, r0, 0, addr, bh * cols * esz, 0,
                                   1, bh, cols, dt.str, fill, "", ntv))
        else:
            raise NotImplementedError(
                f"variable {nm!r} uses compact layout — no real netCDF-4 "
                "producer emits compact data variables"
            )

    h5.close()  # metadata walk done; executors reopen the path themselves

    meta_df = spark.createDataFrame(
        slices,
        "variable string, t0 long, r0 long, c0 long, addr long, "
        "nbytes long, mask long, ct long, ch long, cw long, np_dt string, "
        "fill double, fids string, nt long",
    )

    def decode(batches):
        with open(path, "rb") as fh:

            def chunks():
                for pdf in batches:
                    for row in pdf.itertuples(index=False):
                        fh.seek(int(row.addr))
                        raw = fh.read(int(row.nbytes))
                        ids = [int(x) for x in row.fids.split(",") if x]
                        dt = np.dtype(row.np_dt)
                        ct, chh, cww = int(row.ct), int(row.ch), int(row.cw)
                        raw = _defilter(
                            raw, ids, int(row.mask), dt.itemsize,
                            out_size=ct * chh * cww * dt.itemsize)
                        arr = (np.frombuffer(raw, dt)
                               .reshape(ct, chh, cww).astype("<f8"))
                        fillv = (None if pd.isna(row.fill)
                                 else float(row.fill))
                        for dtk in range(ct):
                            t = int(row.t0) + dtk
                            if t >= int(row.nt):
                                break  # chunk padding past the time extent
                            r0 = int(row.r0)
                            h = min(chh, rows - r0)
                            if h <= 0:
                                continue
                            block = arr[dtk][:h]
                            if flip:
                                block = block[::-1]
                                r0 = rows - r0 - h
                            drop = (fillv if fillv is not None
                                    else float("nan"))
                            f = _blocks.sparse_cells(
                                block, 0, r0, int(row.c0), rows, cols, drop
                            )
                            f.insert(0, "variable", row.variable)
                            f.insert(1, "t", t)
                            yield f

            yield from _blocks.bounded_concat(chunks())

    cells = meta_df.mapInPandas(
        decode,
        "variable string, t long, band long, row long, col long, "
        "value double",
    )
    meta = {
        "gatts": gatts,
        "dims": {nm: int(objs[nm]["shape"][0]) for nm in scales.values()},
        "vars": {nm: m["attrs"] for nm, (m, _) in usable.items()},
        "times": None if times is None else list(map(float, times)),
    }
    return cells, grid, meta
