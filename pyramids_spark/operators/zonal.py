"""Zonal statistics: per-zone aggregates over raster cells or point values.

Reference: ``zonal_stats`` (``/root/reference/src/pyramids/dataset/ops/
_zonal.py:210-271``): rasterize the zones to a label grid with
ALL_TOUCHED=FALSE (cell-centre inside, ``:52-107``), then aggregate values
per label — mean/sum/min/max/std/var/count, std/var POPULATION (ddof=0),
empty zone → NULL row (``:191-207``), CRS mismatch → error.

Spark plan: the zones' label runs ``(row, c0, c1, zone_id)`` — built on
the driver by the engine's one polygon → cells kernel
(``cells.polygon_runs``, a row scanline; work O(row crossings), not
O(area)), first zone wins resolved on the runs — are broadcast and joined
to the cell table on ``row`` with ``col BETWEEN c0 AND c1`` (no Python per
cell; ``crop_polygon`` masks with the same join) → groupBy(zone). The
shuffle carries only (zone_id, partial-agg) thanks to the
hash-aggregate partial/final split — the reference's single-pass bincount
(``_zonal.py:152-188``) IS Spark's map-side combine. Hot zones (a zone
covering a dense region) are handled by two-stage salted aggregation:
partial by (zone, salt), final by zone — see ``salted_agg``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cells
from ..grid import Grid
from .pip import _zone_parts, pip_join, salt_col

STAT_EXPRS = {
    "mean": lambda c: F.avg(c),
    "sum": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "std": lambda c: F.stddev_pop(c),
    "var": lambda c: F.var_pop(c),
    "count": lambda c: F.count(c),
}


def zone_runs(zones: list[dict], grid: Grid) -> pd.DataFrame:
    """Rasterize zone polygons to label runs ``(row, c0, c1, zone_id)``:
    cell-centre inside (the :func:`cells.polygon_runs` scanline over the
    grid's own centre arrays), first zone wins on overlap (gdal burn order
    ≙ ascending zone_id; unassigned cells absent ≙ label −1). Overlaps are
    resolved on the runs: every run is cut at every run end of its row, the
    lowest zone id takes each piece, and touching pieces of one zone merge
    back, so the runs come out disjoint, in (row, c0) order. Driver work is
    O(row crossings), not O(area)."""
    zid, xs, ys = _zone_parts(zones)
    xaxis = (np.arange(grid.cols), grid.x_centers())
    yaxis = (np.arange(grid.rows), grid.y_centers())
    found = [(np.zeros(0, dtype=np.int64),) * 4]
    for sel, X, Y in cells.ring_batches(xs, ys):
        box = (np.maximum(0, grid.col_of(X.min(axis=1))),
               np.minimum(grid.cols - 1, grid.col_of(X.max(axis=1))),
               np.maximum(0, grid.row_of(Y.max(axis=1))),
               np.minimum(grid.rows - 1, grid.row_of(Y.min(axis=1))))
        part, row, c0, c1 = cells.polygon_runs(X, Y, box, xaxis, yaxis)
        found.append((row, c0, c1, zid[sel][part]))
    row, c0, c1, z = (np.concatenate(a) for a in zip(*found))
    if not len(row):
        return pd.DataFrame({c: row for c in ("row", "c0", "c1", "zone_id")})
    # cut every run at every run end of its row (key = row * w + col)
    w = grid.cols + 1
    cuts = np.unique(np.concatenate([row * w + c0, row * w + c1 + 1]))
    own, seg = cells.expand_ranges(
        np.searchsorted(cuts, row * w + c0), np.searchsorted(cuts, row * w + c1 + 1) - 1
    )
    order = np.lexsort((z[own], seg))
    seg, z = seg[order], z[own][order]
    first = np.r_[True, seg[1:] != seg[:-1]]
    seg, z = seg[first], z[first]
    row, c0, c1 = cuts[seg] // w, cuts[seg] % w, cuts[seg + 1] % w - 1
    start = np.flatnonzero(
        np.r_[True, (row[1:] != row[:-1]) | (z[1:] != z[:-1]) | (c0[1:] != c1[:-1] + 1)]
    )
    end = np.r_[start[1:], len(seg)] - 1
    return pd.DataFrame({"row": row[start], "c0": c0[start], "c1": c1[end], "zone_id": z[start]})


def zone_labels(cells_df: DataFrame, grid: Grid, zones: list[dict]) -> DataFrame:
    """``cells_df`` + the ``zone_id`` of the :func:`zone_runs` run holding
    each cell, NULL for an unlabelled cell: the run table is broadcast and
    left-joined on ``row`` with ``col BETWEEN c0 AND c1`` — runs are
    disjoint, so a cell matches at most one. Building the DataFrame runs
    no Spark job."""
    runs = cells_df.sparkSession.createDataFrame(
        zone_runs(zones, grid), "row long, c0 long, c1 long, zone_id long"
    ).select(F.col("row").alias("_row"), F.col("c0").alias("_c0"),
             F.col("c1").alias("_c1"), "zone_id")
    on = (F.col("row") == F.col("_row")) & F.col("col").between(F.col("_c0"), F.col("_c1"))
    return cells_df.join(F.broadcast(runs), on, "left").drop("_row", "_c0", "_c1")


def zonal_stats_raster(
    cells_df: DataFrame, grid: Grid, zones: list[dict],
    stat_names: tuple[str, ...] = ("mean", "sum", "min", "max", "std", "var", "count"),
) -> DataFrame:
    """Per-zone stats over raster cells; empty zones present with NULL stats."""
    spark = cells_df.sparkSession
    zdf = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"zone_id": [z["zone_id"] for z in zones]}), schema="zone_id long"
        )
    )
    per_zone = (
        zone_labels(cells_df, grid, zones)
        .where(F.col("zone_id").isNotNull())
        .groupBy("zone_id")
        .agg(*[STAT_EXPRS[s]("value").alias(s) for s in stat_names])
    )
    return zdf.join(per_zone, "zone_id", "left")


def zonal_stats_points(
    points: DataFrame, zones: list[dict], value: str, zoom: int = 8,
    stat_names: tuple[str, ...] = ("mean", "sum", "min", "max", "std", "var", "count"),
    x: str = "x", y: str = "y",
) -> DataFrame:
    """Per-zone stats over point values — PIP join then aggregate; the
    10^12-row path (cells prune, broadcast join, partial agg)."""
    spark = points.sparkSession
    zdf = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"zone_id": [z["zone_id"] for z in zones]}), schema="zone_id long"
        )
    )
    hits = pip_join(points, zones, zoom=zoom, x=x, y=y)
    per_zone = hits.groupBy("zone_id").agg(
        *[STAT_EXPRS[s](value).alias(s) for s in stat_names]
    )
    return zdf.join(per_zone, "zone_id", "left")


def zonal_stats_points_df(
    points: DataFrame, zones_df: DataFrame, value: str, zoom: int = 8,
    stat_names: tuple[str, ...] = ("mean", "sum", "min", "max", "std", "var", "count"),
    x: str = "x", y: str = "y",
) -> DataFrame:
    """Per-zone stats where the zone side is a DATAFRAME of ring parts
    (``pip.pip_join_df`` composition): the zonal twin of ``locate_faces``
    at 10^7 zones — cover distributed, aggregate map-side partial, zones
    with no hits kept as NULL rows via the left join on the (small,
    distinct) zone-id projection."""
    from .pip import pip_join_df

    zids = zones_df.select("zone_id").distinct()
    hits = pip_join_df(points, zones_df, zoom=zoom, x=x, y=y)
    per_zone = hits.groupBy("zone_id").agg(
        *[STAT_EXPRS[s](value).alias(s) for s in stat_names]
    )
    return zids.join(per_zone, "zone_id", "left")


def salted_agg(
    df: DataFrame, group: str, value: str, n_salt: int = 16
) -> DataFrame:
    """Two-stage skew-proof aggregation: partial by (group, salt) → final by
    group. Decomposable stats only (sum/count/min/max → mean/std_pop/var_pop
    recomposed exactly from Σx, Σx², n). This is the explicit hot-key
    handling of the north rule; AQE skew-split remains on as backstop."""
    part = (
        df.withColumn("_salt", salt_col(n_salt))
        .groupBy(group, "_salt")
        .agg(
            F.sum(value).alias("_s"),
            F.sum(F.col(value) * F.col(value)).alias("_s2"),
            F.count(value).alias("_n"),
            F.min(value).alias("_mn"),
            F.max(value).alias("_mx"),
        )
    )
    return part.groupBy(group).agg(
        (F.sum("_s") / F.sum("_n")).alias("mean"),
        F.sum("_s").alias("sum"),
        F.min("_mn").alias("min"),
        F.max("_mx").alias("max"),
        F.sqrt(F.sum("_s2") / F.sum("_n") - (F.sum("_s") / F.sum("_n")) ** 2).alias("std"),
        (F.sum("_s2") / F.sum("_n") - (F.sum("_s") / F.sum("_n")) ** 2).alias("var"),
        F.sum("_n").alias("count"),
    )


def overlay(src: DataFrame, classes: DataFrame) -> DataFrame:
    """Group-join: class raster × value raster (aligned grids) → per-class
    value stats (reference ``Dataset.overlay``, ``analysis.py:439-521``,
    which returns {class: [values]}; we return the grouped table)."""
    c = classes.select("row", "col", F.col("value").alias("class"))
    return (
        src.where(F.col("value").isNotNull())
        .join(c.where(F.col("class").isNotNull()), ["row", "col"])
        .groupBy("class")
        .agg(
            F.count("value").alias("count"),
            F.sum("value").alias("sum"),
            F.avg("value").alias("mean"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
    )
