"""The raster key formats: the one place that packs and unpacks the keys
every tile, chunk and shard exchange shuffles on (focal halo tiles,
cluster/polygonize label tiles, polygonize ring tiles, zarr chunks and
shards, COG parts, netCDF-4 chunks).

- **Cell key** ``rc = row·2³² + col`` (:func:`pack_rc`). Both inputs are
  cast to long first, so an int32 ``row`` can neither overflow nor turn
  the shift into a no-op. The decode (:func:`unpack_rc_np`) is exact and
  signed for any |coord| < 2³¹: ``rr = (rc + 2³¹) >> 32``,
  ``cc = rc − (rr << 32)``, so an out-of-extent cell decodes to itself and
  :func:`check_extent` sees it. (A dense ``row·cols + col`` key would
  alias an out-of-extent ``col`` onto a valid cell, where no guard can
  catch it.)
- **Tile key** ``floor(row/th)·ntj + floor(col/tw)`` (:func:`tile_key`):
  the dense row-major tile index, computed on long. :func:`tile_window`
  decodes it to the tile's ``(ti, tj, r0, c0, h, w)``.
- **Halo** (:func:`halo_tiles`): the keys of every tile whose window,
  grown by ``r`` cells, holds the cell — the ``map_overlap`` exchange.
- **Extent guard** (:func:`check_extent`): every tile task runs it on the
  cells it decodes; an out-of-extent cell is a loud error, never a write
  into a wrapped or neighbouring cell.

Each Column helper has a numpy twin (suffix ``_np``) that computes the same
values bit for bit (asserted by ``tests/test_properties.py``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_HALF = 1 << 31


def _long(c: "Column | str") -> Column:
    return (F.col(c) if isinstance(c, str) else c).cast("long")


def pack_rc(row: "Column | str", col: "Column | str") -> Column:
    return F.shiftleft(_long(row), 32) + _long(col)


def pack_rc_np(row, col) -> np.ndarray:
    return (np.asarray(row, np.int64) << 32) + np.asarray(col, np.int64)


def unpack_rc(rc: "Column | str") -> tuple[Column, Column]:
    rc = _long(rc)
    rr = F.shiftright(rc + _HALF, 32)
    return rr, rc - F.shiftleft(rr, 32)


def unpack_rc_np(rc) -> tuple[np.ndarray, np.ndarray]:
    rc = np.asarray(rc, np.int64)
    rr = (rc + _HALF) >> 32
    return rr, rc - (rr << 32)


def n_tiles(rows: int, cols: int, th: int, tw: int) -> tuple[int, int]:
    """Tile rows and tile columns covering a ``rows × cols`` grid."""
    return -(-rows // th), -(-cols // tw)


def tile_key(row: "Column | str", col: "Column | str", th: int, tw: int, ntj: int) -> Column:
    return F.floor(_long(row) / th) * ntj + F.floor(_long(col) / tw)


def tile_key_np(row, col, th: int, tw: int, ntj: int) -> np.ndarray:
    return (np.asarray(row, np.int64) // th) * ntj + np.asarray(col, np.int64) // tw


def tile_window(key: int, th: int, tw: int, rows: int, cols: int):
    """Tile key → ``(ti, tj, r0, c0, h, w)``: tile indices, its top-left
    cell and its extent clipped to the grid."""
    ti, tj = divmod(int(key), n_tiles(rows, cols, th, tw)[1])
    r0, c0 = ti * th, tj * tw
    return ti, tj, r0, c0, min(th, rows - r0), min(tw, cols - c0)


def _halo_entries(row, col, ti, tj, th, tw, rows, cols, r) -> list:
    """(tile key, condition) for the cell's own tile (condition None) and
    its 8 neighbours. With ``r ≤ th, tw`` only adjacent tiles can hold
    the cell in their grown window. Written once over operators that
    Columns and numpy arrays share, so both twins run the same formula."""
    nti, ntj = n_tiles(rows, cols, th, tw)
    ri, rj = row - ti * th, col - tj * tw
    near_i = {0: None, -1: (ri < r) & (ti > 0), 1: (ri >= th - r) & (ti < nti - 1)}
    near_j = {0: None, -1: (rj < r) & (tj > 0), 1: (rj >= tw - r) & (tj < ntj - 1)}
    out = []
    for di in (0, -1, 1):
        for dj in (0, -1, 1):
            ci, cj = near_i[di], near_j[dj]
            cond = ci if cj is None else cj if ci is None else ci & cj
            out.append(((ti + di) * ntj + tj + dj, cond))
    return out


def halo_tiles(row: "Column | str", col: "Column | str", th: int, tw: int,
               rows: int, cols: int, r: int) -> Column:
    """Array of the keys of every tile whose window grown by ``r`` holds
    the cell: its own tile first, then up to 8 neighbours near tile
    edges (replication 1 + O(r/tile), not 9)."""
    assert r <= min(th, tw), "halo radius must not exceed tile size"
    row, col = _long(row), _long(col)
    entries = _halo_entries(row, col, F.floor(row / th), F.floor(col / tw),
                            th, tw, rows, cols, r)
    # flatten of one- or zero-element arrays, not array_compact: compact
    # is a higher-order filter, which runs interpreted and takes the
    # explode out of whole-stage codegen (ring spread of a 512² grid,
    # local[4] on 4 cores: 0.43 s with compact, 0.29 s with flatten)
    none = F.array().cast("array<bigint>")
    return F.flatten(F.array(*[
        F.array(k) if c is None else F.when(c, F.array(k)).otherwise(none)
        for k, c in entries
    ]))


def halo_tiles_np(row, col, th: int, tw: int, rows: int, cols: int, r: int) -> list:
    """:func:`halo_tiles` per cell, as a list of int64 key arrays."""
    row, col = np.asarray(row, np.int64), np.asarray(col, np.int64)
    entries = _halo_entries(row, col, row // th, col // tw, th, tw, rows, cols, r)
    ks = np.stack([k for k, _ in entries], axis=1)
    ok = np.stack([np.ones(len(row), bool) if c is None else c
                   for _, c in entries], axis=1)
    return [k[m] for k, m in zip(ks, ok)]


def check_extent(rr: np.ndarray, cc: np.ndarray, rows: int, cols: int,
                 msg: "str | None" = None) -> None:
    """Raise ``ValueError`` if any decoded cell lies outside the grid."""
    if len(rr) and (rr.min() < 0 or rr.max() >= rows
                    or cc.min() < 0 or cc.max() >= cols):
        raise ValueError(msg or (
            f"cell outside grid extent ({rows}x{cols}): rows "
            f"[{rr.min()},{rr.max()}] cols [{cc.min()},{cc.max()}]"))
