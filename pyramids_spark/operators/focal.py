"""Focal (moving-window) raster ops — the 2-D analogue of window aggregates.

Reference: ``_focal.py`` (``/root/reference/src/pyramids/dataset/ops/
_focal.py``): box mean/std over a (2r+1)² window with REFLECT boundary
(scipy ``uniform_filter`` default), slope/aspect/hillshade via centered
differences, arbitrary ``focal_apply``; lazy path = dask ``map_overlap`` with
``depth=r`` — the halo-exchange pattern.

Two Spark strategies, both implemented:

1. :func:`focal_join` — **offset-join**: explode each cell to its (2r+1)²
   reflected window positions (a generated offsets table, crossJoin with a
   tiny literal frame), then groupBy target cell. Pure DataFrame algebra
   (codegen, exact SQL-oracle parity); shuffle volume = cells × window. Best
   for small r and modest grids.
2. :func:`focal_tiles` — **halo tiles**: partition the grid into T×T tiles,
   replicate each cell into every neighbor tile whose halo needs it (≤3
   extra copies for r ≤ T/2, up to 8 for r ≤ T, ``keys.halo_tiles``), ``applyInPandas`` per
   tile with a vectorized numpy box filter. Shuffle volume = cells × (1 + 4r/T) — the 100-TB path
   (reference ``map_overlap`` ≙ exactly this).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import keys
from ..grid import Grid


def _offsets_df(spark, r: int):
    k = 2 * r + 1
    return spark.range(k * k).select(
        ((F.col("id") / k).cast("long") - r).alias("dr"),
        ((F.col("id") % k).cast("long") - r).alias("dc"),
    )


def _reflect(idx, n: int):
    """scipy 'reflect' boundary: (d c b a | a b c d | d c b a) — -1→0, n→n-1."""
    i = F.when(idx < 0, -idx - 1).otherwise(idx)
    return F.when(i >= n, 2 * n - i - 1).otherwise(i)


def reflect_sql(idx: str, n: int) -> str:
    return (
        f"CASE WHEN (CASE WHEN ({idx}) < 0 THEN -({idx})-1 ELSE ({idx}) END) >= {n} "
        f"THEN 2*{n} - (CASE WHEN ({idx}) < 0 THEN -({idx})-1 ELSE ({idx}) END) - 1 "
        f"ELSE (CASE WHEN ({idx}) < 0 THEN -({idx})-1 ELSE ({idx}) END) END"
    )


def focal_join(cells_df: DataFrame, grid: Grid, r: int = 1, stat: str = "mean") -> DataFrame:
    """Box focal stat via offset-join with reflect boundary. std is POPULATION
    (two-pass formula of the reference, ``_focal.py:122-173``, equals the
    one-pass E[x²]−E[x]² on exact sums)."""
    spark = cells_df.sparkSession
    off = F.broadcast(_offsets_df(spark, r))
    # target cell (row,col) gathers source at reflected (row+dr, col+dc)
    g = (
        cells_df.crossJoin(off)
        .select(
            "band",
            F.col("row").alias("trow"),
            F.col("col").alias("tcol"),
            _reflect(F.col("row") + F.col("dr"), grid.rows).alias("srow"),
            _reflect(F.col("col") + F.col("dc"), grid.cols).alias("scol"),
        )
    )
    src = cells_df.select(
        "band", F.col("row").alias("srow"), F.col("col").alias("scol"), "value"
    )
    j = g.join(src, ["band", "srow", "scol"])
    grp = j.groupBy("band", F.col("trow").alias("row"), F.col("tcol").alias("col"))
    if stat == "mean":
        out = grp.agg(F.avg("value").alias("value"))
    elif stat == "std":
        # explicit sqrt(E[x²]−E[x]²) — the same expression shape as the
        # tiled path's cumsum formula AND the DuckDB oracle, so all three
        # agree bit-for-bit (stddev_pop's Welford accumulation differs in
        # the last ulp)
        out = grp.agg(
            F.avg(F.col("value") * F.col("value")).alias("_m2"),
            F.avg("value").alias("_m1"),
        ).select(
            "band", "row", "col",
            F.sqrt(F.greatest(F.col("_m2") - F.col("_m1") * F.col("_m1"), F.lit(0.0))).alias("value"),
        )
    elif stat == "min":
        out = grp.agg(F.min("value").alias("value"))
    elif stat == "max":
        out = grp.agg(F.max("value").alias("value"))
    else:
        raise ValueError(stat)
    return out


def focal_tiles(
    cells_df: DataFrame, grid: Grid, r: int = 1, stat: str = "mean", tile: int = 256
) -> DataFrame:
    """Halo-tile focal op: the scale path. Each tile task reassembles its
    (tile+2r)² window in numpy and runs a vectorized box filter (cumsum
    trick, O(cells) regardless of r). NULL-safe: nodata cells are excluded
    from each window's mean like the reference's nan-ops."""
    rows, cols = grid.rows, grid.cols
    # each cell travels to its own tile and to every neighbour tile whose
    # halo needs it; the exchange carries the packed cell key rc and the
    # dense tile key (keys.py) — two longs instead of four
    halo = cells_df.select(
        "band", keys.pack_rc("row", "col").alias("rc"), "value",
        F.explode(keys.halo_tiles("row", "col", tile, tile, rows, cols, r)).alias("tid"),
    )

    def per_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        band, tid = key
        _, _, r0, c0, h, w = keys.tile_window(tid, tile, tile, rows, cols)
        # local window with halo, reflected at grid edges
        gr, gc = keys.unpack_rc_np(pdf["rc"].to_numpy())
        keys.check_extent(gr, gc, rows, cols)
        gr, gc = gr - (r0 - r), gc - (c0 - r)
        H, W = h + 2 * r, w + 2 * r
        val = np.full((H, W), np.nan)
        val[gr, gc] = pdf["value"].to_numpy(dtype=np.float64)
        # reflect at the true grid boundary
        idx_r = np.arange(r0 - r, r0 + h + r)
        idx_c = np.arange(c0 - r, c0 + w + r)
        rr = np.where(idx_r < 0, -idx_r - 1, idx_r)
        rr = np.where(rr >= rows, 2 * rows - rr - 1, rr)
        cc = np.where(idx_c < 0, -idx_c - 1, idx_c)
        cc = np.where(cc >= cols, 2 * cols - cc - 1, cc)
        # fill reflected positions from in-tile data where available
        src_r = np.clip(rr - (r0 - r), 0, H - 1)
        src_c = np.clip(cc - (c0 - r), 0, W - 1)
        need = (idx_r[:, None] < 0) | (idx_r[:, None] >= rows) | \
               (idx_c[None, :] < 0) | (idx_c[None, :] >= cols)
        val = np.where(need, val[np.ix_(src_r, src_c)], val)
        cnt = (~np.isnan(val)).astype(np.float64)
        v0 = np.nan_to_num(val)
        k = 2 * r + 1
        # sliding box sum via cumsum (vectorized, radius-independent cost)
        def boxsum(a):
            p = np.zeros((a.shape[0] + 1, a.shape[1] + 1))
            p[1:, 1:] = a.cumsum(0).cumsum(1)
            return (
                p[k:, k:] - p[:-k, k:] - p[k:, :-k] + p[:-k, :-k]
            )
        s = boxsum(v0)
        n = boxsum(cnt)
        s2 = boxsum(v0 * v0)
        with np.errstate(invalid="ignore", divide="ignore"):
            if stat == "mean":
                res = s / n
            elif stat == "std":
                res = np.sqrt(np.maximum(s2 / n - (s / n) ** 2, 0.0))
            elif stat in ("min", "max") or callable(stat):
                # order statistics / arbitrary reducers aren't cumsum-able:
                # zero-copy sliding windows + one vectorized nan-reduce
                # (completes the reference focal_apply surface,
                # ``_focal.py:176-222``)
                from numpy.lib.stride_tricks import sliding_window_view

                win = sliding_window_view(val, (k, k))
                flat = win.reshape(win.shape[0], win.shape[1], k * k)
                import warnings

                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", RuntimeWarning)
                    if stat == "min":
                        res = np.nanmin(flat, axis=2)
                    elif stat == "max":
                        res = np.nanmax(flat, axis=2)
                    else:
                        # focal_apply contract: stat(windows) with windows
                        # shaped (h, w, k²), NaN = nodata, returns (h, w)
                        res = stat(flat)
            else:
                raise ValueError(stat)
        res[n == 0] = np.nan
        orow, ocol = np.meshgrid(np.arange(r0, r0 + h), np.arange(c0, c0 + w), indexing="ij")
        out = pd.DataFrame(
            {"band": band, "row": orow.ravel(), "col": ocol.ravel(),
             "value": res.ravel()}
        )
        return out[~out.value.isna()]

    return (
        halo.groupBy("band", "tid")
        .applyInPandas(per_tile, schema="band int, row long, col long, value double")
    )


def slope_aspect_hillshade(
    cells_df: DataFrame, grid: Grid, azimuth: float = 315.0, altitude: float = 45.0
) -> DataFrame:
    """slope/aspect/hillshade via centered differences (reference
    ``_focal.py:225-374``): np.gradient ≙ (z[i+1]−z[i−1])/(2·cell) interior,
    one-sided at edges. Offset-join with edge clamping keeps it exact and
    SQL-expressible."""
    spark = cells_df.sparkSession
    src = cells_df.select(
        F.col("band").alias("b2"), F.col("row").alias("srow"),
        F.col("col").alias("scol"), F.col("value").alias("v"),
    )

    src = src.withColumnRenamed("b2", "band")

    def nb(dr, dc, name):
        rr = F.greatest(F.lit(0), F.least(F.lit(grid.rows - 1), F.col("row") + dr))
        cc = F.greatest(F.lit(0), F.least(F.lit(grid.cols - 1), F.col("col") + dc))
        return (
            cells_df.select("band", "row", "col", rr.alias("srow"), cc.alias("scol"))
            .join(src, ["band", "srow", "scol"])
            .select("band", "row", "col", F.col("v").alias(name))
        )

    up, dn = nb(-1, 0, "up"), nb(1, 0, "dn")
    lf, rt = nb(0, -1, "lf"), nb(0, 1, "rt")
    j = (
        cells_df.join(up, ["band", "row", "col"]).join(dn, ["band", "row", "col"])
        .join(lf, ["band", "row", "col"]).join(rt, ["band", "row", "col"])
    )
    # np.gradient spacing: interior 2*cell, edges 1*cell (clamped neighbor)
    deny = F.when((F.col("row") > 0) & (F.col("row") < grid.rows - 1), 2.0).otherwise(1.0)
    denx = F.when((F.col("col") > 0) & (F.col("col") < grid.cols - 1), 2.0).otherwise(1.0)
    dz_dy = (F.col("dn") - F.col("up")) / (deny * F.lit(grid.cell))  # row axis
    dz_dx = (F.col("rt") - F.col("lf")) / (denx * F.lit(grid.cell))
    # sqrt(dx²+dy²) instead of hypot: identical formula shape in the SQL
    # oracle (hypot's internal algorithm differs between libm and the JVM)
    slope = F.atan(F.sqrt(dz_dx * dz_dx + dz_dy * dz_dy))
    aspect = ((F.lit(450.0) - F.degrees(F.atan2(dz_dy, -dz_dx))) % 360.0)
    az, alt = np.radians(azimuth), np.radians(altitude)
    hs = (
        F.lit(np.sin(alt)) * F.cos(slope)
        + F.lit(np.cos(alt)) * F.sin(slope) * F.cos(F.lit(az) - F.radians(aspect))
    )
    return j.select(
        "band", "row", "col",
        F.degrees(slope).alias("slope_deg"),
        aspect.alias("aspect_deg"),
        (F.greatest(F.lit(0.0), F.least(F.lit(1.0), hs)) * 255.0).alias("hillshade"),
    )
