"""Reference-shaped facade: ``Dataset`` / ``FeatureCollection`` /
``DatasetCollection`` classes with the pyramids method surface, backed by
the distributed operators.

A user of the reference (``from pyramids.dataset import Dataset``) maps
directly: ``Dataset.read_file(path)`` → ``SparkDataset.read_parquet(spark,
path, grid)``; every method below cites the reference API it mirrors
(file:line in /root/reference). The object is a thin immutable wrapper
around (cell DataFrame, Grid) — all laziness, pushdown, and distribution
come from the wrapped DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.errors import PythonException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from functools import lru_cache

from .grid import Grid, grid_df


@lru_cache(maxsize=128)
def _list_layer_names_cached(path: str, mtime_ns: int) -> list[str]:
    import glob as _glob
    import os as _os

    return sorted(
        _os.path.splitext(_os.path.basename(p))[0]
        for p in _glob.glob(f"{path}/*.parquet")
    )


def _dir_mtime_ns(path: str) -> int:
    """Cache key for layer listings: the container dir's mtime changes when
    layers are added/removed, invalidating stale entries without an explicit
    cache_clear."""
    import os as _os

    try:
        return _os.stat(path).st_mtime_ns
    except OSError:
        return -1
from .operators import focal as _focal
from .operators import raster as _raster
from .operators import reproject as _reproject
from .operators import vectorize as _vectorize
from .operators import zonal as _zonal


@dataclass(frozen=True)
class SparkDataset:
    """Raster: ``src/pyramids/dataset/dataset.py:58`` (Dataset)."""

    df: DataFrame  # cells(band, row, col, value); value NULL ≙ nodata
    grid: Grid
    #: band index → display name (band_metadata.py:441 _get_band_names)
    band_names: tuple = ()
    #: band index → color-interpretation name (band_metadata.py:483
    #: band_color: {0: 'red', 1: 'green', …})
    band_color: tuple = ()

    def with_band_metadata(
        self, names: list[str] | None = None, colors: dict[int, str] | None = None
    ) -> "SparkDataset":
        """Attach band names / color interpretations — plan-side metadata
        like the Grid, broadcast with the plan, never shuffled
        (``band_metadata.py:441-595``)."""
        from dataclasses import replace as _replace

        return _replace(
            self,
            band_names=tuple(names) if names is not None else self.band_names,
            band_color=tuple(sorted((colors or dict(self.band_color)).items())),
        )

    def get_band_by_color(self, color_name: str) -> int | None:
        """First band whose color interpretation matches (case-insensitive;
        ``band_metadata.py:549`` — None on no match)."""
        for band, c in self.band_color:
            if c.lower() == color_name.lower():
                return band
        return None

    # --- scans / sinks (dataset.py:596 read_file; io.py:673 to_file) -------
    @classmethod
    def read_parquet(cls, spark: SparkSession, path: str, grid: Grid) -> "SparkDataset":
        return cls(spark.read.parquet(path), grid)

    @classmethod
    def create(cls, spark: SparkSession, grid: Grid, value_expr: str, bands: int = 1) -> "SparkDataset":
        return cls(grid_df(spark, grid, value_expr, bands), grid)

    def to_parquet(self, path: str) -> None:
        self.df.write.mode("overwrite").parquet(path)

    def to_zarr(
        self, path: str, chunks: tuple[int, int] = (256, 256),
        compress: "int | None" = None, dtype: str = "float64",
        zarr_format: int = 2, shards: "tuple[int, int] | None" = None,
        codec: "str | None" = None,
    ):
        """Write a REAL zarr store (``zarr_format`` 2: .zarray/.zattrs
        JSON + flat chunks; 3: zarr.json + bytes codec pipeline,
        optionally ``shards`` → the sharding_indexed object-store layout —
        ``pyramids_spark.zarr``; reference ``to_zarr`` wraps GDAL's Zarr
        driver). ``codec`` picks the chunk compressor (v2 zlib/zstd/lz4/
        blosc:<cname>, v3 gzip/zstd/blosc:<cname>), ``compress`` the
        level; both None = raw chunks. ``dtype`` picks the storage dtype
        from the reference's GDAL dtype table (``pyramids_spark.dtypes``).
        Returns the per-chunk manifest (lineage)."""
        from . import zarr as _zarr

        return _zarr.write_zarr(self.df, self.grid, path, chunks, compress,
                                dtype, zarr_format, shards, codec=codec)

    @classmethod
    def from_zarr(
        cls, spark: SparkSession, path: str, array: "str | None" = None,
    ) -> "SparkDataset":
        """Open a zarr v2 or v3 store (distributed binaryFile chunk scan;
        georeferencing from .zattrs / zarr.json attributes). ``array``
        picks a child of a GROUP store (the xarray per-variable layout;
        ``pyramids_spark.zarr.list_zarr_arrays`` lists them)."""
        from . import zarr as _zarr

        df, grid = _zarr.read_zarr(spark, path, array)
        return cls(df, grid)

    def to_cog(
        self, path: str, levels: tuple[int, ...] = (2, 4),
        tile: tuple[int, int] = (256, 256), compress: "int | None" = None,
        dtype: str = "float64", bigtiff: "bool | None" = None,
        predictor: int = 1,
    ) -> int:
        """Export a REAL tiled GeoTIFF with an embedded averaged overview
        pyramid (COG-shaped; ``pyramids_spark.tiff`` — pure struct/numpy,
        no GDAL). ``dtype`` picks the storage dtype from the reference's
        GDAL dtype table (``pyramids_spark.dtypes``; reference
        ``base/_utils.py:16-56``). Tiles encode and stage distributed, the
        driver lays out the header and offset arrays from the tile-size
        manifest, and one distributed job ``pwrite``\\ s the tiles into
        the one output file (``tiff.write_geotiff``); the band count rides
        on the encode job, so no probe scan runs. Returns bytes written."""
        from dataclasses import replace as _replace

        from . import tiff as _tiff

        from . import dtypes as _dtypes

        per = [(self.df, self.grid)]
        for lv in levels:
            ov = _raster.overview_rollup(self.df, level=lv, stat="avg").select(
                "band", "row", "col", "value"
            )
            if not _dtypes.is_float(dtype):
                # averaged overviews are fractional; integer stores round
                # them (GDAL average-overview behavior) — base-level cells
                # stay under the strict integral-value guard
                ov = ov.withColumn("value", F.round("value", 0))
            g = _replace(
                self.grid,
                cell=self.grid.cell * lv,
                rows=(self.grid.rows + lv - 1) // lv,
                cols=(self.grid.cols + lv - 1) // lv,
            )
            per.append((ov, g))
        return _tiff.write_geotiff(
            per, path, tile, compress, dtype, bigtiff, predictor,
        )

    def to_cog_parts(
        self, out_dir: str, shard: tuple[int, int] = (4096, 4096),
        tile: tuple[int, int] = (256, 256), levels: tuple[int, ...] = (),
        compress: "int | None" = None, dtype: str = "float64",
        predictor: int = 1,
    ):
        """The sharded GeoTIFF sink (the scale path: no single-file
        layout step on the driver): one standalone COG per aligned
        super-tile shard, written executor-side, plus a mosaic.json manifest
        (``pyramids_spark.tiff.write_cog_parts``; reference COG export
        ``dataset/ops/cog.py:65-238``). Returns the part manifest
        (lineage)."""
        from . import tiff as _tiff

        m = self.df.select(F.max("band").alias("m")).collect()[0]["m"]
        n_bands = int(m) + 1 if m is not None else 1
        return _tiff.write_cog_parts(
            self.df, self.grid, n_bands, out_dir, shard, tile, levels,
            compress, dtype, predictor,
        )

    @classmethod
    def from_geotiff_parts(
        cls, spark: SparkSession, path: str, overview: int = 0
    ) -> "SparkDataset":
        """Open a :meth:`to_cog_parts` mosaic directory — each part
        decodes wholly inside one executor task; the driver reads only
        mosaic.json."""
        from . import tiff as _tiff

        df, grid, _ = _tiff.read_geotiff_parts(spark, path, overview)
        return cls(df, grid)

    @classmethod
    def from_geotiff(
        cls, spark: SparkSession, path: str, overview: int = 0
    ) -> "SparkDataset":
        """Open a GeoTIFF written by :meth:`to_cog` (driver parses the IFD
        chain only; tiles decode distributed by byte range). ``overview``
        picks the pyramid level."""
        from . import tiff as _tiff

        df, grid, _ = _tiff.read_geotiff(spark, path, overview)
        return cls(df, grid)

    # --- §2.2 filters (analysis.py:322 extract; :523 get_mask; :261 fill) --
    def extract(self, exclude_value: float | None = None) -> DataFrame:
        return _raster.extract(self.df, exclude_value)

    def get_mask(self) -> DataFrame:
        return _raster.get_mask(self.df)

    def fill(self, v: float) -> "SparkDataset":
        return SparkDataset(_raster.fill(self.df, v), self.grid)

    def count_domain_cells(self) -> DataFrame:
        return _raster.count_domain_cells(self.df)

    # --- §2.3/2.7 joins & crops (spatial.py:888 crop; :518 _crop_aligned) --
    def crop(self, box: tuple[float, float, float, float]) -> DataFrame:
        return _raster.crop_window(self.df, self.grid, box)

    def crop_aligned(self, mask: "SparkDataset") -> "SparkDataset":
        return SparkDataset(_raster.crop_aligned(self.df, mask.df), self.grid)

    # --- §2.4 aggregations (analysis.py:28 stats; :678 histogram) ----------
    def stats(self) -> DataFrame:
        return _raster.stats(self.df)

    def get_histogram(self, lo: float, hi: float, nbins: int) -> DataFrame:
        return _raster.histogram(self.df, lo, hi, nbins)

    def zonal_stats(self, zones: list[dict], **kw) -> DataFrame:
        return _zonal.zonal_stats_raster(self.df, self.grid, zones, **kw)

    def overlay(self, classes: "SparkDataset") -> DataFrame:
        return _zonal.overlay(self.df, classes.df)

    # --- §2.5 focal (ops/_focal.py) -----------------------------------------
    def focal_mean(self, radius: int = 1, tiled: bool = False, tile: int = 256) -> DataFrame:
        if tiled:
            return _focal.focal_tiles(self.df, self.grid, r=radius, stat="mean", tile=tile)
        return _focal.focal_join(self.df, self.grid, r=radius, stat="mean")

    def focal_std(self, radius: int = 1, tiled: bool = False, tile: int = 256) -> DataFrame:
        if tiled:
            return _focal.focal_tiles(self.df, self.grid, r=radius, stat="std", tile=tile)
        return _focal.focal_join(self.df, self.grid, r=radius, stat="std")

    def slope_aspect_hillshade(self, azimuth: float = 315.0, altitude: float = 45.0) -> DataFrame:
        return _focal.slope_aspect_hillshade(self.df, self.grid, azimuth, altitude)

    def fill_gaps(self, mask: "SparkDataset") -> "SparkDataset":
        return SparkDataset(_raster.fill_gaps(self.df, mask.df), self.grid)

    # --- §2.7 raster→vector (vectorize.py:683 cluster; :802 cluster2) ------
    def cluster(self, lo: float, hi: float, tile: int = 256) -> DataFrame:
        return _vectorize.cluster(self.df, self.grid, lo, hi, tile)

    def cluster2(self, tile: int = 256) -> DataFrame:
        return _vectorize.polygonize_rings(self.df, self.grid, tile)

    def footprint(self, tile: int = 256) -> DataFrame:
        return _vectorize.footprint(self.df, self.grid, tile)

    def to_feature_collection(self) -> DataFrame:
        """vectorize.py:49 to_feature_collection — one row per domain cell
        with centre coords (≙ to_xyz with band columns)."""
        return _raster.to_xyz(self.df, self.grid)

    # --- §2.8 reproject / resample / align / overviews ----------------------
    def align(self, ref: "SparkDataset") -> "SparkDataset":
        return SparkDataset(
            _raster.align_nearest(self.df, self.grid, ref.grid), ref.grid
        )

    def resample(self, cell_size: float) -> "SparkDataset":
        out, g = _raster.resample(self.df, self.grid, cell_size)
        return SparkDataset(out, g)

    def to_crs(self, epsg: int | str) -> "SparkDataset":
        """Target as an EPSG int, a PROJ4 string ('+proj=lcc +lat_1=…'), or
        OGC WKT1 (.prj) / WKT2 (ISO 19162) CRS text (reference accepts any
        CRS input through OSR, ``feature/crs.py:162-268``). The target
        resolves to one entry of the CRS table
        (``reproject.resolve_crs``); its forward transform plans the output
        grid from the corners and its inverse drives the nearest gather. A
        geographic target returns the dataset unchanged."""
        crs = _reproject.resolve_crs(epsg)
        if crs is None:
            return self
        dst = _reproject.reproject_plan(self.grid, crs)
        return SparkDataset(
            _reproject.to_crs_nearest(self.df, self.grid, dst, inverse=crs.inverse),
            dst,
        )

    def algebra(self, other: "SparkDataset", op: str = "+") -> "SparkDataset":
        """Cell-wise arithmetic with another dataset on the SAME grid
        (align first otherwise — the reference's array arithmetic
        contract)."""
        if other.grid != self.grid:
            raise ValueError("grids differ: align() the operand first")
        return SparkDataset(_raster.raster_algebra(self.df, other.df, op), self.grid)

    def create_overviews(
        self, levels: tuple[int, ...] = (2, 4, 8, 16, 32), method: str = "avg"
    ) -> dict[int, DataFrame]:
        """io.py:1156 create_overviews — zoom pyramid as per-level tables.
        ``method``: avg/min/max/sum/rms/nearest/mode roll up directly per
        level; the kernel methods gauss/cubicspline/lanczos apply their ×2
        kernel ITERATIVELY (GDAL builds each kernel overview from the
        previous factor-2 step)."""
        kernel = {
            "gauss": lambda df, g: _raster.overview_gauss(df),
            "cubicspline": _raster.overview_cubicspline,
            "lanczos": _raster.overview_lanczos,
        }.get(method)
        if kernel is None:
            return {
                lv: _raster.overview_rollup(self.df, level=lv, stat=method)
                for lv in levels
            }
        bad = [lv for lv in levels if lv < 1 or lv & (lv - 1)]
        if bad:
            raise ValueError(
                f"kernel overviews build by iterated ×2 steps; levels must be "
                f"powers of 2 (got {bad})"
            )
        out: dict[int, DataFrame] = {}
        base, rows, cols, lv = self.df, self.grid.rows, self.grid.cols, 1
        # level 1 (identity) still carries n_children=1 so every emitted
        # level has the same schema (matching overview_rollup at level 1)
        last = self.df.withColumn("n_children", F.lit(1).cast("long"))
        from dataclasses import replace as _replace

        for target in sorted(levels):
            while lv < target:
                # keep n_children on the EMITTED frame (schema-consistent
                # with the stat-method levels, ADVICE r3); drop it only on
                # the frame feeding the next ×2 kernel step
                last = kernel(base, _replace(self.grid, rows=rows, cols=cols))
                base = last.drop("n_children")
                rows, cols = (rows + 1) // 2, (cols + 1) // 2
                lv *= 2
            out[target] = last
        return out

    def to_xyz(self) -> DataFrame:
        return _raster.to_xyz(self.df, self.grid)

    def to_ascii_grid(self, path: str) -> int:
        """Esri ASCII grid (.asc) export — the last arm of the reference's
        ``to_file`` driver dispatch (``dataset/ops/io.py:673-799``):
        6-line header (ncols/nrows/xllcorner/yllcorner/cellsize/
        NODATA_value — corner is the BOTTOM-left) + one text line per
        raster row. Lines build in the executors (groupBy row over a
        range partitioning on row, so the exchange both groups and orders
        them and each line builds once), stream to the driver
        top-to-bottom — O(row) driver memory; a .asc is a
        small legacy interop artifact (single band; CRS travels in a
        sidecar .prj in the wild, carried here by the read-side ``epsg``
        parameter). A cell of band > 0 makes the row builder raise; it
        surfaces as ``ValueError`` while the lines stream, so earlier lines
        may already be in the file. Returns bytes written."""
        g = self.grid
        nod = -9999.0 if g.nodata is None else float(g.nodata)
        one_band = "ASCII grid is single-band (band 0 only)"
        cols = g.cols

        def build(key, pdf):
            import numpy as np
            import pandas as pd

            if (pdf["band"] > 0).any():
                raise ValueError(one_band)
            r = int(key[0])
            vals = np.full(cols, nod, dtype="<f8")
            pdf = pdf[pdf["value"].notna()]
            cc = pdf["col"].to_numpy(np.int64)
            if len(cc) and (cc.min() < 0 or cc.max() >= cols):
                raise ValueError(f"col outside grid extent ({cols})")
            vals[cc] = pdf["value"].to_numpy(np.float64)
            vals[np.isnan(vals)] = nod
            return pd.DataFrame(
                {"row": [r], "line": [" ".join(f"{v:.17g}" for v in vals)]}
            )

        # range-partition BEFORE the UDF: the exchange satisfies the
        # grouping, so the row order costs no sort after the UDF (an
        # orderBy there would run every build a second time in its sampler)
        lines = (
            self.df.where(F.col("value").isNotNull() | (F.col("band") > 0))
            .repartitionByRange("row")
            .groupBy("row")
            .applyInPandas(build, "row long, line string")
            .sortWithinPartitions("row")
        )

        def rows_in_order():
            try:
                yield from lines.toLocalIterator()
            except (Py4JJavaError, PythonException) as e:  # wrapped worker error
                if one_band in str(e):
                    raise ValueError(one_band) from e
                raise

        # .17g = shortest exact double representation family: the header
        # coordinates and cell values survive the text round trip bit-exact
        hdr = (
            f"ncols {g.cols}\nnrows {g.rows}\n"
            f"xllcorner {g.x0:.17g}\nyllcorner {g.y0 - g.rows * g.cell:.17g}\n"
            f"cellsize {g.cell:.17g}\nNODATA_value {nod:.17g}\n"
        )
        empty = " ".join(f"{nod:.17g}" for _ in range(g.cols))
        n = 0
        with open(path, "w") as fh:
            fh.write(hdr)
            n += len(hdr)
            it = rows_in_order()
            nxt = next(it, None)
            for r in range(g.rows):
                if nxt is not None and nxt["row"] == r:
                    line = nxt["line"]
                    nxt = next(it, None)
                else:
                    line = empty
                fh.write(line + "\n")
                n += len(line) + 1
            if nxt is not None:
                raise ValueError(
                    f"row {nxt['row']} outside grid extent ({g.rows})"
                )
        return n

    @classmethod
    def from_ascii_grid(
        cls, spark: SparkSession, path: str, epsg: int = 4326
    ) -> "SparkDataset":
        """Open an Esri ASCII grid. The 6-line header parses driver-side;
        the body decodes in ONE executor task (binaryFile + mapInPandas —
        whitespace-separated text has no random access, so a single-task
        decode is inherent to the format; it exists for legacy interop,
        not scale). Cells equal to NODATA_value drop."""
        keys = {"ncols", "nrows", "xllcorner", "yllcorner", "xllcenter",
                "yllcenter", "cellsize", "nodata_value"}
        hdr = {}
        with open(path, "r") as fh:
            # NODATA_value is optional and the ll keys may be corner- or
            # center-referenced — stop at the first non-header line rather
            # than demanding exactly 6 key/value pairs.
            for line in fh:
                parts = line.split()
                if len(parts) == 2 and parts[0].lower() in keys:
                    hdr[parts[0].lower()] = float(parts[1])
                else:
                    break
        rows, cols = int(hdr["nrows"]), int(hdr["ncols"])
        cell = hdr["cellsize"]
        nod = hdr.get("nodata_value", -9999.0)
        x0 = (hdr["xllcorner"] if "xllcorner" in hdr
              else hdr["xllcenter"] - cell / 2.0)
        yll = (hdr["yllcorner"] if "yllcorner" in hdr
               else hdr["yllcenter"] - cell / 2.0)
        n_hdr_tok = 2 * len(hdr)
        grid = Grid(
            x0=x0, y0=yll + rows * cell,
            cell=cell, rows=rows, cols=cols, epsg=epsg, nodata=nod,
        )

        def decode(batches):
            import numpy as np

            from . import _blocks

            for pdf in batches:
                for content in pdf["content"]:
                    toks = bytes(content).decode().split()
                    # skip the header tokens (2 per parsed key/value pair)
                    vals = np.array(toks[n_hdr_tok:], dtype="<f8")
                    block = vals.reshape(rows, cols)
                    yield _blocks.sparse_cells(
                        block, 0, 0, 0, rows, cols, nod
                    )

        files = (
            spark.read.format("binaryFile").load(path).select("content")
        )
        df = files.mapInPandas(
            decode, "band long, row long, col long, value double"
        )
        return cls(df, grid)

    # --- §2.11 UDF surface (analysis.py:178 apply) ---------------------------
    def apply(self, value_expr) -> "SparkDataset":
        """Per-cell scalar map over domain cells; nodata preserved. Accepts a
        Column expression over ``value`` (JVM) — the vectorized fast path the
        reference approximates with np.vectorize."""
        return SparkDataset(
            self.df.withColumn(
                "value", F.when(F.col("value").isNotNull(), value_expr)
            ),
            self.grid,
        )


@dataclass(frozen=True)
class SparkFeatureCollection:
    """Vector table: ``src/pyramids/feature/collection.py:157``
    (FeatureCollection). Rows = features with x/y (points) or vertex-array
    geometry columns + attributes; ``epsg`` carried as metadata."""

    df: DataFrame
    epsg: int = 4326

    # --- scans (collection.py:789 read_file w/ pushdown; :1419 parquet) ----
    @classmethod
    def read_parquet(
        cls, spark: SparkSession, path: str, *,
        bbox: tuple[float, float, float, float] | None = None,
        columns: list[str] | None = None,
        where: str | None = None,
        epsg: int = 4326,
    ) -> "SparkFeatureCollection":
        """bbox/columns/where pushdown ≙ collection.py:795-803 — expressed
        declaratively; Catalyst pushes to the parquet scan."""
        df = spark.read.parquet(path)
        if where:
            df = df.where(where)
        if bbox:
            x0, y0, x1, y1 = bbox
            df = df.where(
                (F.col("x") >= x0) & (F.col("x") <= x1)
                & (F.col("y") >= y0) & (F.col("y") <= y1)
            )
        if columns:
            df = df.select(*columns)
        return cls(df, epsg)

    def to_parquet(self, path: str) -> None:
        self.df.write.mode("overwrite").parquet(path)

    # --- GeoJSON FeatureCollection FILE (collection.py:789-948 read_file,
    # --- :1657-1811 to_file GeoJSON driver) --------------------------------
    def to_geojson(self, path: str, geometry_col: str = "geometry") -> int:
        """Write ONE GeoJSON FeatureCollection document: every non-geometry
        column becomes a property (``to_json(struct(...))``, built in the
        executors), features stream to the driver in deterministic
        (sorted) order — O(feature) driver memory, the single-file-export
        contract (a .geojson is one JSON document by spec; the distributed
        sibling is newline-delimited :meth:`to_geojson_seq`). Returns the
        feature count."""
        props = [c for c in self.df.columns if c != geometry_col]
        feat = F.concat(
            F.lit('{"type": "Feature", "properties": '),
            F.to_json(F.struct(*props)) if props else F.lit("{}"),
            F.lit(', "geometry": '),
            # RFC 7946 allows "geometry": null; without the coalesce a NULL
            # row null-propagates the whole concat (write(None) crash here,
            # silently dropped line in to_geojson_seq)
            F.coalesce(F.col(geometry_col), F.lit("null")),
            F.lit("}"),
        )
        it = self.df.select(feat.alias("f")).orderBy("f").toLocalIterator()
        n = 0
        with open(path, "w") as fh:
            fh.write('{"type": "FeatureCollection", "features": [')
            for r in it:
                fh.write(",\n" if n else "\n")
                fh.write(r["f"])
                n += 1
            fh.write("\n]}\n")
        return n

    def to_geojson_seq(self, path: str, geometry_col: str = "geometry") -> None:
        """Newline-delimited GeoJSON (GeoJSONSeq / GeoJSONL — the GDAL
        driver the reference uses for large exports): one Feature per
        line, written DISTRIBUTED via the text sink — the scale path."""
        props = [c for c in self.df.columns if c != geometry_col]
        feat = F.concat(
            F.lit('{"type": "Feature", "properties": '),
            F.to_json(F.struct(*props)) if props else F.lit("{}"),
            F.lit(', "geometry": '),
            F.coalesce(F.col(geometry_col), F.lit("null")),
            F.lit("}"),
        )
        self.df.select(feat.alias("value")).write.mode("overwrite").text(path)

    @classmethod
    def read_geojson(
        cls, spark: SparkSession, path: str, epsg: int = 4326
    ) -> "SparkFeatureCollection":
        """Open a GeoJSON FeatureCollection document (or a GeoJSONSeq
        directory of Feature lines) with Spark's JSON source — multiline
        for the single document, line mode otherwise; geometry
        re-serializes to a JSON string column ``geometry`` for the
        existing geojson_* column parsers, properties flatten to columns.
        Geometry types must be homogeneous per file (mixed nesting defeats
        schema inference — loud error), matching the reference's
        layer-per-geometry model."""
        import json as _json
        import os as _os

        # A single FILE is not necessarily one multi-line document: a
        # .geojsonl/GeoJSONSeq file is one complete JSON value per line,
        # and multiLine=true would silently read only its first record
        # (Spark's one-record-per-file semantics). Sniff the first
        # non-blank line: complete JSON → line mode (also fine for a
        # whole document on one line); a fragment → multiline document.
        multiline = False
        if _os.path.isfile(path):
            first = ""
            with open(path, "r") as fh:
                for line in fh:
                    if line.strip():
                        first = line
                        break
            try:
                _json.loads(first)
            except ValueError:
                multiline = True
        raw = spark.read.option("multiLine", str(multiline).lower()).json(path)
        if "_corrupt_record" in raw.columns:
            raise ValueError(
                "GeoJSON schema inference failed (mixed geometry types in "
                "one file?) — split layers per geometry type"
            )
        if "features" in raw.columns:
            f = raw.select(F.explode("features").alias("f"))
        elif "geometry" in raw.columns:  # GeoJSONSeq: one Feature per line
            f = raw.select(F.struct(*raw.columns).alias("f"))
        else:
            raise ValueError(
                f"{path!r} is not a GeoJSON FeatureCollection/GeoJSONSeq "
                f"(got top-level fields {raw.columns})"
            )
        names = [fld.name for fld in f.schema["f"].dataType.fields]
        if "geometry" not in names:
            raise ValueError("features carry no geometry member")
        cols = [F.to_json("f.geometry").alias("geometry")]
        if "properties" in names:
            cols.append("f.properties.*")
        return cls(f.select(*cols), epsg)

    # --- GeoPackage container (collection.py:1657-1811 to_file GPKG driver,
    # --- :1240 list_layers; pyramids_spark.gpkg builds the SQLite container
    # --- directly on stdlib sqlite3) ----------------------------------------
    def to_gpkg(
        self, path: str, layer: str, geometry_col: str = "geometry",
        geometry_type: str = "POINT", spatial_index: bool = False,
    ) -> int:
        """Write this collection as one GeoPackage feature layer
        (``geometry_col`` holds WKB from :mod:`pyramids_spark.functions.wkb`).
        Single-file sink contract — blobs build executor-side, rows stream
        through one sqlite3 connection. Returns the feature count."""
        from . import gpkg as _gpkg

        return _gpkg.write_gpkg(
            self.df, path, layer, geometry_col, geometry_type, self.epsg,
            spatial_index=spatial_index,
        )

    @classmethod
    def read_gpkg(
        cls, spark: SparkSession, path: str, layer: str,
        columns: "list[str] | None" = None, where: "str | None" = None,
        bbox: "tuple[float, float, float, float] | None" = None,
    ) -> "SparkFeatureCollection":
        """Open one GeoPackage layer as a distributed scan (disjoint fid
        ranges per task; ``where``/``columns``/``bbox`` push into SQLite —
        bbox probes the gpkg_rtree_index extension)."""
        from . import gpkg as _gpkg

        df, _, srs = _gpkg.read_gpkg(spark, path, layer, columns, where,
                                     bbox)
        return cls(df, srs)

    # --- ESRI Shapefile container (the "ESRI Shapefile" to_file driver arm,
    # --- collection.py:1657-1811; struct+numpy, pyramids_spark.shp) ---------
    def to_shapefile(
        self, path: str, geometry_col: str = "geometry",
        shape_type: int = 1,
    ) -> int:
        """Write .shp/.shx/.dbf (+ a ``.prj`` WKT1 sidecar when
        ``shp.prj_wkt`` knows this collection's EPSG — 4326/3857/UTM) —
        ``geometry_col`` holds WKB (the same column feeds :meth:`to_gpkg`);
        records re-encode executor-side via ``shp.record_from_wkb``.
        Driver-stream single-file sink, loud 2 GiB format guard."""
        from . import shp as _shp

        df = self.df.withColumn(
            geometry_col, _shp.record_from_wkb(F.col(geometry_col))
        )
        n = _shp.write_shapefile(df, path, geometry_col, shape_type)
        _shp.write_prj(path, self.epsg)
        return n

    @classmethod
    def read_shapefile(
        cls, spark: SparkSession, path: str, epsg: "int | None" = None
    ) -> "SparkFeatureCollection":
        """Distributed shapefile scan (per-task .shx slice + contiguous
        .shp byte range + fixed-width .dbf records); geometry returns as
        WKB, multi-part records explode one row per part. CRS: explicit
        ``epsg`` wins, else the ``.prj`` sidecar's EPSG authority, else
        4326."""
        from . import shp as _shp

        df, _ = _shp.read_shapefile(spark, path)
        if epsg is None:
            epsg = _shp.read_prj(path) or 4326
        return cls(df, epsg)

    # --- catalog (collection.py:1240 list_layers, pyogrio engine) -----------
    @staticmethod
    def list_layer_names(path: str) -> list[str]:
        """Layer names in a container directory — each ``*.parquet``
        dataset is one vector layer (≙ ``pyogrio.list_layers`` over a
        multi-layer GPKG). Memoised like the reference's C15 LRU
        (collection.py:1248-1253), keyed on the directory mtime so in-process
        layer adds/removes invalidate; pure catalog metadata, no data read."""
        return _list_layer_names_cached(path, _dir_mtime_ns(path))

    @classmethod
    def list_layers(cls, spark: SparkSession, path: str) -> DataFrame:
        """(layer, n_features) for every layer in the container — the
        reference returns names; the count column is the Spark-side bonus
        (one metadata-only parquet count per layer, no full scan)."""
        out = None
        for name in cls.list_layer_names(path):
            d = (
                spark.read.parquet(f"{path}/{name}.parquet")
                .groupBy()
                .agg(F.count(F.lit(1)).alias("n_features"))
                .select(F.lit(name).alias("layer"), "n_features")
            )
            out = d if out is None else out.unionByName(d)
        if out is None:  # no layers: empty frame, same schema (not None)
            return spark.createDataFrame([], "layer string, n_features long")
        return out

    # --- set ops (collection.py:2259 concat) --------------------------------
    def concat(self, other: "SparkFeatureCollection") -> "SparkFeatureCollection":
        if other.epsg != self.epsg:
            raise ValueError(f"CRS mismatch: {self.epsg} vs {other.epsg}")
        return SparkFeatureCollection(self.df.unionByName(other.df), self.epsg)

    # --- geometry (geometry.py:219 explode_gdf; collection.py:2364 centroid)
    def explode(self, parts_col: str = "parts") -> "SparkFeatureCollection":
        return SparkFeatureCollection(
            self.df.withColumn("part", F.explode(parts_col)).drop(parts_col),
            self.epsg,
        )

    def with_centroid(self, xs: str = "xs", ys: str = "ys") -> "SparkFeatureCollection":
        avg = lambda a: F.aggregate(F.col(a), F.lit(0.0), lambda s, v: s + v) / F.size(a)  # noqa: E731
        return SparkFeatureCollection(
            self.df.withColumn("avg_x", avg(xs)).withColumn("avg_y", avg(ys)),
            self.epsg,
        )

    # --- spatial shuffle + joins (SURVEY §3.3) -------------------------------
    def spatial_shuffle(self, zoom: int = 16, partitions: int | None = None) -> "SparkFeatureCollection":
        """_lazy_collection.py:447-500 spatial_shuffle(by='morton'): range-
        repartition along the Z-order curve so nearby features co-locate —
        the explicit shuffle strategy for partition-pruned spatial joins."""
        from . import cells as _c

        cx, cy = _c.geo_cell_col(F.col("x"), F.col("y"), zoom)
        d = self.df.withColumn("_morton", _c.morton_col(cx, cy, zoom))
        n = partitions or d.sparkSession.sparkContext.defaultParallelism * 2
        return SparkFeatureCollection(
            d.repartitionByRange(n, "_morton").drop("_morton"), self.epsg
        )

    def write_bucketed(
        self,
        table: str,
        path: str,
        n_buckets: int = 64,
        zoom: int = 12,
    ) -> None:
        """Persist the collection BUCKETED by its grid cell (Spark
        ``bucketBy`` + ``sortBy``, ≙ Iceberg's ``bucket(N, cell_id)``
        transform): two tables bucketed the same way join WITHOUT a
        shuffle on either side — the co-located spatial-join strategy for
        repeated doc×doc / doc×feature joins at 10^12 rows, where even one
        exchange of the big table dominates the job. Pair with
        :func:`bucketed_join` (plan asserted shuffle-free in
        tests/test_api_streaming_mesh.py)."""
        from . import cells as _c

        cx, cy = _c.geo_cell_col(F.col("x"), F.col("y"), zoom)
        d = self.df.withColumn("cell_id", _c.cell_id_col(cx, cy, zoom))
        (
            d.write.mode("overwrite")
            .bucketBy(n_buckets, "cell_id")
            .sortBy("cell_id")
            .option("path", path)
            .saveAsTable(table)
        )

    @staticmethod
    def bucketed_join(spark: SparkSession, table_a: str, table_b: str) -> DataFrame:
        """Inner join of two same-bucketing tables on ``cell_id`` —
        Catalyst satisfies both sides' distribution from the bucket spec,
        so the plan carries NO Exchange (verified by plan-shape test)."""
        a = spark.table(table_a)
        b = spark.table(table_b)
        # merge hint: at real scale NEITHER side broadcasts; without it the
        # planner broadcasts a small test table and skips the bucket spec
        return a.hint("merge").join(
            b.withColumnRenamed("doc_id", "doc_id_b"), "cell_id"
        )

    def sjoin(self, zones: list[dict], zoom: int = 8, **kw) -> DataFrame:
        """Point-in-polygon join of this collection's points (``x``/``y``
        columns; pass ``x=``/``y=`` to rename) with a zone list →
        :func:`operators.pip.pip_join`: one cell-pruned cover, broadcast
        join and refine — a codegen half-plane test for convex parts, a
        numpy ray-cast for the rest. One row per containing part; parts of
        a zone must be disjoint."""
        from .operators.pip import pip_join

        return pip_join(self.df, zones, zoom=zoom, **kw)

    def iter_features(self, chunksize: int = 1000):
        """collection.py:576-788 streaming scan ≙ toLocalIterator batches."""
        batch: list = []
        for row in self.df.toLocalIterator():
            batch.append(row)
            if len(batch) >= chunksize:
                yield batch
                batch = []
        if batch:
            yield batch


@dataclass(frozen=True)
class SparkDatasetCollection:
    """Temporal stack: ``dataset/collection.py:258`` (DatasetCollection).
    cells(t, band, row, col, value)."""

    df: DataFrame

    def reduce(self, stat: str = "mean") -> DataFrame:
        """collection.py:390-436 mean/sum/min/max/std/var over time."""
        agg = {
            "mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
            "std": F.stddev_pop, "var": F.var_pop,
        }[stat]("value")
        return self.df.groupBy("band", "row", "col").agg(agg.alias("value"))

    def groupby(self, label_col) -> DataFrame:
        """collection.py:362-388 grouped temporal reduction (climatology)."""
        return (
            self.df.withColumn("_label", label_col)
            .groupBy("_label", "band", "row", "col")
            .agg(F.avg("value").alias("value"))
        )

    def head(self, n: int) -> DataFrame:
        """collection.py:953 positional time-slice: the FIRST n distinct time
        steps, positional over the ordered distinct t values — correct when t
        is sparse / epoch-stamped / filtered, not just dense 0-based (ADVICE
        r2). The distinct-t frame is O(time steps) → broadcast join."""
        ts = self.df.select("t").distinct().orderBy("t").limit(n)
        return self.df.join(F.broadcast(ts), "t").select(*self.df.columns)

    def tail(self, n: int) -> DataFrame:
        ts = self.df.select("t").distinct().orderBy(F.col("t").desc()).limit(n)
        return self.df.join(F.broadcast(ts), "t").select(*self.df.columns)

    def merge(self, *others: "SparkDatasetCollection") -> DataFrame:
        """collection.py:1371 mosaic (first-non-null priority)."""
        return _raster.mosaic(self.df, *[o.df for o in others])

    def apply(self, value_expr) -> "SparkDatasetCollection":
        return SparkDatasetCollection(
            self.df.withColumn("value", F.when(F.col("value").isNotNull(), value_expr))
        )


def _apply_ranges(df: DataFrame, ranges: dict) -> DataFrame:
    """The sel() predicate language, in ONE place: scalar ==, list/set IN,
    2-tuple BETWEEN — shared by sel, sel_coords2d and sel_labels so the
    three selection surfaces cannot diverge."""
    for k, v in ranges.items():
        if isinstance(v, tuple) and len(v) == 2:
            df = df.where((F.col(k) >= v[0]) & (F.col(k) <= v[1]))
        elif isinstance(v, (list, set)):
            df = df.where(F.col(k).isin(*v))
        else:
            df = df.where(F.col(k) == v)
    return df


def _label_filter(df: DataFrame, col: str, eq, isin, between) -> DataFrame:
    """kwargs form of the sel() predicate language for one column."""
    if between is not None:
        return _apply_ranges(df, {col: tuple(between)})
    if isin is not None:
        return _apply_ranges(df, {col: list(isin)})
    if eq is not None:
        return _apply_ranges(df, {col: eq})
    return df


@dataclass(frozen=True)
class SparkNetCDF:
    """Multi-variable NetCDF surface over the LONG cell table
    ``(variable, t, band, row, col, value)`` — the Spark analogue of the
    reference's variable dict (``netcdf/netcdf.py:331-360`` ``variables``,
    ``:736-846`` ``sel``; ``get_variable``/``add_variable``/
    ``remove_variable`` round out the dict surface). One tall table instead
    of per-variable arrays: variable is just another partition column, so
    per-variable reads prune on it and cross-variable algebra is a join."""

    df: DataFrame

    @property
    def variable_names(self) -> list[str]:
        return sorted(r[0] for r in self.df.select("variable").distinct().collect())

    def get_variable(self, name: str) -> SparkDatasetCollection:
        """netcdf.py get_variable: one variable as a temporal stack (the
        filter prunes variable-partitioned files before the scan)."""
        return SparkDatasetCollection(
            self.df.where(F.col("variable") == name).drop("variable")
        )

    @property
    def variables(self) -> dict[str, SparkDatasetCollection]:
        """Lazy dict {name: stack}; each value is a pruned view, nothing
        materializes until an action runs on it."""
        return {n: self.get_variable(n) for n in self.variable_names}

    def add_variable(self, name: str, stack: SparkDatasetCollection) -> "SparkNetCDF":
        return SparkNetCDF(
            self.df.unionByName(stack.df.withColumn("variable", F.lit(name)))
        )

    def remove_variable(self, name: str) -> "SparkNetCDF":
        return SparkNetCDF(self.df.where(F.col("variable") != name))

    def sel(self, **ranges) -> "SparkNetCDF":
        """Label slice per dimension column: scalar ==, list IN, 2-tuple
        BETWEEN (netcdf.py:736-846)."""
        return SparkNetCDF(_apply_ranges(self.df, ranges))

    def sel_labels(
        self, coords: DataFrame, dim: str,
        eq=None, isin=None, between: "tuple | None" = None,
    ) -> "SparkNetCDF":
        """Label-based selection through a NON-index coordinate variable
        (reference ``netcdf/dimensions.py`` label machinery: irregular /
        2-D coordinate variables are lookup TABLES, not affine formulas —
        e.g. a non-uniform time axis). ``coords`` carries one row per
        dimension index: a column named ``dim`` (the index) plus a
        ``label`` column the predicate evaluates on. Matching indices
        join back into the cell table as a broadcast LEFT SEMI join, so
        the (10^12-row) data side is never shuffled and the predicate
        pushes into the scan when ``dim`` is a partition column."""
        idx = _label_filter(coords, "label", eq, isin, between).select(dim).distinct()
        return SparkNetCDF(self.df.join(F.broadcast(idx), dim, "left_semi"))

    def sel_coords2d(
        self, coords: DataFrame, dims: tuple = ("row", "col"), **ranges
    ) -> "SparkNetCDF":
        """Selection through 2-D coordinate variables (CF curvilinear
        grids: ``lat(y, x)``/``lon(y, x)`` are tables keyed by BOTH
        dimensions — reference ``netcdf/dimensions.py`` multi-dim
        coordinate handling). ``coords`` carries the dim columns plus the
        coordinate columns; ``ranges`` uses :meth:`sel` syntax (scalar ==,
        list IN, 2-tuple BETWEEN) over the coordinate columns. The
        matching dim tuples broadcast-semi-join into the cell table — the
        coordinate table is O(grid cells), dwarfed by data × time ×
        variable, so the data side never shuffles."""
        idx = _apply_ranges(coords, ranges).select(*dims).distinct()
        return SparkNetCDF(self.df.join(F.broadcast(idx), list(dims), "left_semi"))

    def sel_bounds(
        self, bounds: DataFrame, dim: str, lo, hi, mode: str = "overlaps"
    ) -> "SparkNetCDF":
        """Selection through a CF BOUNDS array (``time_bnds``-style cell
        intervals, one (lo, hi) row per dim index — reference
        ``dimensions.py`` bounds machinery): keep indices whose interval
        ``overlaps`` (default) or is ``within`` [lo, hi]. Broadcast
        semi-join, same shape as :meth:`sel_labels`."""
        if mode == "overlaps":
            c = bounds.where((F.col("hi") >= lo) & (F.col("lo") <= hi))
        elif mode == "within":
            c = bounds.where((F.col("lo") >= lo) & (F.col("hi") <= hi))
        else:
            raise ValueError(f"mode must be 'overlaps' or 'within' (got {mode!r})")
        idx = c.select(dim).distinct()
        return SparkNetCDF(self.df.join(F.broadcast(idx), dim, "left_semi"))

    def decode_variable(
        self, name: str, attrs: dict, time_units: str | None = None
    ) -> SparkDatasetCollection:
        """``get_variable`` + the CF value pipeline (``cf.decode_cf_value``:
        _FillValue → scale/offset → valid range) and, when ``time_units``
        is given ('hours since …'), a decoded ``time`` timestamp column —
        the reader-side decode the reference applies per variable
        (``netcdf/cf.py``, ``dimensions.py``)."""
        from . import cf as _cf

        d = self.get_variable(name).df.withColumn(
            "value", _cf.decode_cf_value(F.col("value"), attrs)
        )
        if time_units is not None:
            d = d.withColumn("time", _cf.decode_time_col(F.col("t"), time_units))
        return SparkDatasetCollection(d)

    def to_netcdf(
        self, grid, path: str, times: "list[float]", dtype: str = "float64",
        version: int = 1,
    ):
        """Write a REAL classic NetCDF file (CDF-1/CDF-2/CDF-5 — pure
        struct/numpy, ``pyramids_spark.netcdf``; reference
        ``NetCDF.to_file`` via GDAL's netCDF driver). ``t`` in the cell
        table is the record index into ``times``. Slabs land by parallel
        executor ``pwrite`` at precomputed offsets (classic has no
        compression, so the whole layout is plan-time-known). Returns the
        slab manifest (lineage)."""
        from . import netcdf as _nc

        return _nc.write_netcdf(
            self.df.select("variable", "t", "row", "col", "value"),
            grid, path, times, dtype=dtype, version=version,
        )

    def to_netcdf4(
        self, grid, path: str, times: "list[float] | None" = None,
        dtype: str = "float64", compress: "int | str | None" = 4,
        shuffle: bool = True, fletcher32: bool = False,
        chunk: "tuple[int, int]" = (64, 64), georef: str = "attrs",
        index: str = "btree1", **index_opts,
    ):
        """Write a REAL netCDF-4 (HDF5) file — pure struct/numpy,
        ``pyramids_spark.hdf5``; reference ``NetCDF.to_file`` through the
        netcdf-c/HDF5 stack (``netcdf/netcdf.py:849-982``). Chunks build
        and deflate DISTRIBUTED and stage as files; the driver lays out the
        front matter and chunk indexes from the ``(key, nbytes)`` manifest
        and one distributed job ``pwrite``\\ s the chunks
        (``hdf5.write_netcdf4``). ``index``: ``"btree1"``
        (the 1.8 default), ``"fixed_array"``, ``"extensible"`` or
        ``"btree2"`` (the 1.10 'latest' layouts; extras like
        ``ea_params`` / ``b2_node_size`` / ``fa_page_bits`` pass
        through). Returns the chunk manifest (lineage)."""
        from . import hdf5 as _h5

        return _h5.write_netcdf4(
            self.df.select("variable", "t", "row", "col", "value"),
            grid, path, times, dtype=dtype, compress=compress,
            shuffle=shuffle, fletcher32=fletcher32, chunk=chunk,
            georef=georef, index=index, **index_opts,
        )

    @classmethod
    def read_file(
        cls, spark: SparkSession, path: str
    ) -> "tuple[SparkNetCDF, Grid, dict]":
        """Open a NetCDF binary of EITHER generation (reference
        ``netcdf/netcdf.py:849-982`` ``read_file``): the magic bytes pick
        classic (``CDF\\x01``/``\\x02``) or netCDF-4/HDF5 (``\\x89HDF``).
        Both readers parse KB-scale metadata on the driver and decode
        slabs/chunks by byte range on executors. Returns (surface, Grid,
        meta — dims/attrs/vars for ``decode_variable``)."""
        with open(path, "rb") as fh:
            magic = fh.read(8)
        if magic == b"\x89HDF\r\n\x1a\n":
            from . import hdf5 as _h5

            df, grid, meta = _h5.read_netcdf4(spark, path)
            return cls(df), grid, meta
        from . import netcdf as _nc

        df, grid, meta = _nc.read_netcdf(spark, path)
        return cls(df), grid, meta

    @classmethod
    def open_mfdataset(cls, spark: SparkSession, paths: list[str]) -> "SparkNetCDF":
        """open_mfdataset ≙ one multi-path parquet scan (netcdf.py:934-982);
        Spark unions the file lists at the source level, no driver loop."""
        return cls(spark.read.parquet(*paths))

    @classmethod
    def from_zarr(
        cls, spark: SparkSession, path: str
    ) -> "tuple[SparkNetCDF, Grid, dict]":
        """Open a CF/xarray-style zarr GROUP (one array per variable +
        1-D coordinate arrays — the ``xarray.Dataset.to_zarr`` layout,
        v2 or v3) as the same (surface, Grid, meta) as
        :meth:`read_file` (``pyramids_spark.zarr.read_zarr_dataset``)."""
        from . import zarr as _zarr

        df, grid, meta = _zarr.read_zarr_dataset(spark, path)
        return cls(df), grid, meta

    def to_zarr_dataset(
        self, grid, path: str, times: "list[float] | None" = None,
        dtype: str = "float64", compress: "int | None" = None,
        chunks: "tuple[int, int]" = (256, 256), zarr_format: int = 2,
        georef: str = "coords", codec: "str | None" = None,
        mode: str = "w",
    ):
        """Write this surface as a CF/xarray-style zarr GROUP — one
        ``(time, y, x)`` array per variable plus coordinate arrays
        (``pyramids_spark.zarr.write_zarr_dataset``); one distributed
        encode job writes every variable's chunks and observes the
        variable set. Returns the chunk manifest (lineage)."""
        from . import zarr as _zarr

        return _zarr.write_zarr_dataset(
            self.df.select("variable", "t", "row", "col", "value"),
            grid, path, times, dtype=dtype, compress=compress,
            chunks=chunks, zarr_format=zarr_format, georef=georef,
            codec=codec, mode=mode,
        )
