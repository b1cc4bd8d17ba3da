"""The two workloads: inputs, ops (build = the call into the operator,
run = the action), output checks against the numpy references, and the
sub-layer probes of the traced run."""

from __future__ import annotations

import math
import os
import shutil
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import cached_property
from typing import Any

import numpy as np
from pyspark.sql import functions as F

from pyramids_spark import cells, hdf5, synth, tiff, zarr
from pyramids_spark.checkpoint import CheckpointedJob, key_range_chunks
from pyramids_spark.grid import grid_df
from pyramids_spark.operators import focal, knn, pip, vectorize

from . import inputs, reference


@dataclass
class Op:
    name: str
    run: Callable[[Any], Any]  # the action; takes what build returned
    check: Callable[[Any], bool]  # output vs the numpy reference
    build: Callable[[], Any] = lambda: None  # the call into the operator


class Workload:
    """Base: ``steps`` groups op names into the end-to-end ``op<i>_s``
    metrics, and a pass runs step i ``reps[i]`` times in a row, so that
    the short steps get enough samples; ``notes`` holds counts the ops
    report for the per-layer metrics. ``spark`` is replaced on every
    session restart."""

    name = ""
    steps: list[list[str]] = []
    reps: list[int] = []

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.notes: dict[str, float] = {}

    def prepare(self) -> None:
        """Untimed: fixtures and numpy references."""

    def load(self) -> None:
        """Timed as set-up: persist this session's inputs."""

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def probes(self) -> list[tuple[str, Callable[[], Any]]]:
        """Single-layer calls timed once in the traced run."""
        return []

    def desc(self, op: str, phase: str) -> None:
        self.spark.sparkContext.setJobDescription(f"{self.name}:{op}:{phase}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class DocJoin(Workload):
    name = "doc_join"
    steps = [["flagship"], ["pip_faces"], ["knn"], ["ckpt"]]
    reps = [1, 1, 2, 1]

    def prepare(self) -> None:
        self.path = inputs.ensure_docs(self.spark, self.work, self.seed)
        self.zones = inputs.zones(self.seed)
        self.pruned = inputs.prune_cells(self.zones)
        self.queries = inputs.queries(self.seed)
        self.k = inputs.KNN_K
        self.docs_np = inputs.read_docs_np(self.path)
        d = self.docs_np
        self.ref_rollup = reference.zone_rollup(d["x"], d["y"], self.zones, inputs.TILE_ZOOM)
        self.ref_knn = reference.knn(d["key"], d["x"], d["y"], self.queries, self.k)
        self.sample_step = inputs.N_DOCS // 10_000
        # a (doc, zone) row per hit: the checkpointed job's expected rows
        self.ref_rows = sum(n for n, _ in self.ref_rollup.values())
        self.table_bytes = inputs.table_bytes(self.path)
        self.chunks = [
            {**c, "lo": c["lo"] + inputs.doc_start(self.seed), "hi": c["hi"] + inputs.doc_start(self.seed)}
            for c in key_range_chunks(inputs.N_DOCS, inputs.CKPT_CHUNKS)
        ]

    @cached_property
    def face_pairs(self) -> tuple[np.ndarray, np.ndarray]:
        """(key, face id) of every point inside a face; read from the loaded
        faces at the first check."""
        f = self.faces.toPandas()
        d = self.docs_np
        return reference.face_pairs(d["key"], d["x"], d["y"], f["zone_id"], f["xs"], f["ys"])

    def _in_sample(self, keys):
        return (keys - inputs.doc_start(self.seed)) % self.sample_step == 0

    def load(self) -> None:
        self.pts = self.spark.read.parquet(self.path).select("key", "x", "y").persist()
        self.faces = inputs.faces_df(self.spark, self.seed).persist()
        self.pts.count()
        self.faces.count()

    def _docs(self):
        return self.spark.read.parquet(self.path).where(F.col("pcell").isin(self.pruned))

    def _audit(self, op: str = "flagship", phase: str = "run") -> int:
        self.desc(op, phase)  # runs in its own thread, which has its own job description
        d = self._docs()
        ok = F.min((synth.span_hash_col() == F.col("span_hash")).cast("int"))
        return d.select(ok.alias("ok")).collect()[0]["ok"]

    def _flagship_build(self):
        hits = pip.pip_join(self._docs().select("x", "y"), self.zones, zoom=inputs.JOIN_ZOOM)
        cx, cy = cells.geo_cell_col(F.col("x"), F.col("y"), inputs.TILE_ZOOM)
        hits = hits.withColumn("tile_id", cells.cell_id_col(cx, cy, inputs.TILE_ZOOM))
        per_tile = hits.groupBy("zone_id", "tile_id").agg(F.count(F.lit(1)).alias("n"))
        return per_tile.groupBy("zone_id").agg(F.sum("n").alias("n_docs"), F.count(F.lit(1)).alias("n_tiles"))

    def _flagship_run(self, agg):
        # the audit and the join run as two concurrent actions, as in bench.flagship
        with ThreadPoolExecutor(max_workers=1) as pool:
            audit = pool.submit(self._audit)
            rows = agg.collect()
            ok = audit.result()
        self.notes["joined_docs"] = sum(r["n_docs"] for r in rows)
        return {r["zone_id"]: (r["n_docs"], r["n_tiles"]) for r in rows}, ok

    def _faces_run(self, df):
        r = df.agg(
            F.count(F.lit(1)),
            F.sum("zone_id"),
            F.sum((F.col("key") % 1_000_003) * (F.col("zone_id") + 1)),
        ).first()
        return tuple(int(v or 0) for v in r)

    def _ckpt_run(self, _):
        root = os.path.join(self.work, "ckpt")
        shutil.rmtree(root, ignore_errors=True)
        docs = self.spark.read.parquet(self.path)
        crash_at = str(self.chunks[len(self.chunks) // 2]["id"])
        executions = 0

        class Crash(RuntimeError):
            pass

        def run_chunk(crash: bool):
            # shaped like jobs/pip_tiling_job.py's run_chunk
            def job(spark_, chunk):
                nonlocal executions
                if crash and str(chunk["id"]) == crash_at:
                    raise Crash(chunk["id"])
                executions += 1
                part = docs.where((F.col("key") >= chunk["lo"]) & (F.col("key") < chunk["hi"]))
                hits = pip.pip_join(part, self.zones, zoom=inputs.JOIN_ZOOM)
                cx, cy = cells.geo_cell_col(F.col("x"), F.col("y"), inputs.TILE_ZOOM)
                hits = hits.withColumn("tile_id", cells.cell_id_col(cx, cy, inputs.TILE_ZOOM))
                ok = (synth.span_hash_col() == F.col("span_hash")).alias("span_ok")
                return hits.select("doc_id", "zone_id", "tile_id", ok)

            return job

        first = CheckpointedJob(self.spark, root, "pip_tiling")
        try:
            first.run(self.chunks, run_chunk(crash=True))
        except Crash:
            pass
        t0 = time.time()
        resumed = CheckpointedJob(self.spark, root, "pip_tiling")
        try:
            resumed.run(self.chunks, run_chunk(crash=False))
            resumed.snapshot()
            n, bad = resumed.result().agg(
                F.count(F.lit(1)), F.sum((~F.col("span_ok")).cast("long"))
            ).first()
        finally:
            resumed.close()
        self.notes["ckpt.resume_s"] = time.time() - t0
        self.notes["ckpt.useful_chunk_frac"] = len(self.chunks) / executions
        return int(n), int(bad or 0)

    def ops(self) -> list[Op]:
        return [
            Op(
                "flagship",
                build=self._flagship_build,
                run=self._flagship_run,
                check=lambda out: out[1] == 1 and out[0] == self.ref_rollup,
            ),
            Op(
                "pip_faces",
                build=lambda: pip.pip_join_df(self.pts, self.faces, zoom=inputs.FACE_ZOOM),
                run=self._faces_run,
                check=lambda out: out == reference.pair_digest(*self.face_pairs),
            ),
            Op(
                "knn",
                build=lambda: knn.knn_join(self.pts, self.queries, k=self.k),
                run=lambda df: df.select("query_id", "rank", "key").collect(),
                check=lambda rows: {(r["query_id"], r["rank"]): r["key"] for r in rows} == self.ref_knn,
            ),
            Op("ckpt", run=self._ckpt_run, check=lambda out: out == (self.ref_rows, 0)),
        ]

    def sample_op(self) -> Op:
        """pip_join_df on a fixed 10k-point sample, checked pair by pair
        against the brute force over all faces."""
        sample = self.pts.where(self._in_sample(F.col("key")))
        keys, faces = self.face_pairs
        in_sample = self._in_sample(keys)
        expected = set(zip(keys[in_sample].tolist(), faces[in_sample].tolist()))
        return Op(
            "pip_faces_sample",
            build=lambda: pip.pip_join_df(sample, self.faces, zoom=inputs.FACE_ZOOM),
            run=lambda df: {(r["key"], r["zone_id"]) for r in df.select("key", "zone_id").collect()},
            check=lambda pairs: pairs == expected,
        )

    def _candidates(self) -> int:
        """Rows of the flagship's cell join before refinement: pruned docs
        joined to the zoom-11 zone cover on cell id."""
        cover = pip.zone_cover(self.zones, inputs.JOIN_ZOOM, "intersects")
        cover_df = self.spark.createDataFrame(cover[["zone_id", "cell_id"]])
        docs = pip.with_cell_id(self._docs().select("x", "y"), inputs.JOIN_ZOOM)
        return docs.join(F.broadcast(cover_df), "cell_id").count()

    def probes(self):
        rings = self.faces.withColumn("part_key", F.xxhash64(F.col("zone_id"), F.col("xs"), F.col("ys")))
        xy = lambda: self._docs().select("x", "y")  # noqa: E731
        return [
            ("scan", lambda: _noop(xy())),
            ("encode", lambda: _noop(pip.with_cell_id(xy(), inputs.JOIN_ZOOM))),
            ("audit", lambda: self._audit("audit", "probe")),
            ("cover", lambda: pip.zone_cover(self.zones, inputs.JOIN_ZOOM, "intersects")),
            ("candidates", self._candidates),
            ("cover_df", lambda: _noop(pip.zone_cover_df(rings, inputs.FACE_ZOOM))),
        ]


class RasterVectorize(Workload):
    name = "raster_vectorize"
    steps = [["focal"], ["cluster"], ["polygonize"], ["cog", "zarr", "netcdf", "readback"]]
    reps = [2, 2, 1, 1]
    CC_LO, CC_HI = 0.0, 54.0

    def prepare(self) -> None:
        g = inputs.grid()
        base = np.arange(1, g.rows * g.cols + 1, dtype=np.float64).reshape(g.rows, g.cols)
        self.ref_focal_sum = float(reference.focal_mean(base, 2).sum())
        v = inputs.cc_values(self.seed)
        labels = reference.components8((v >= self.CC_LO) & (v <= self.CC_HI))
        on = labels >= 0
        self.ref_cc = (int(on.sum()), int(labels[on].sum()))
        rv = inputs.ring_values(self.seed)
        self.ref_ring_cells = np.bincount(rv.astype(np.int64).ravel(), minlength=inputs.RING_VALUES)
        self.cells = inputs.GRID * inputs.GRID
        self.sinks = os.path.join(self.work, "sinks")

    def load(self) -> None:
        self.grid = inputs.grid()
        self.gdf = grid_df(self.spark, self.grid).persist()
        self.ccdf = inputs.cc_grid_df(self.spark, self.seed).persist()
        self.rdf = inputs.ring_grid_df(self.spark, self.seed).persist()
        for df in (self.gdf, self.ccdf, self.rdf):
            df.count()

    def _focal_check(self, out) -> bool:
        n, s = out
        return n == self.grid.rows * self.grid.cols and math.isclose(s, self.ref_focal_sum, rel_tol=1e-9)

    def _rings_check(self, pdf) -> bool:
        polys = reference.wkt_polygons(pdf["wkt"])
        area = np.zeros(inputs.RING_VALUES)
        for value, rings in zip(pdf["value"], polys):
            area[int(value)] += reference.polygon_area(rings)
        self.notes["rings"] = sum(len(p) for p in polys)
        self.notes["vertices"] = sum(r.shape[0] for p in polys for r in p)
        return bool(np.array_equal(area, self.ref_ring_cells.astype(np.float64)))

    def _out(self, name: str) -> str:
        return os.path.join(self.sinks, name)

    def _fresh(self, name: str) -> str:
        p = self._out(name)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
        os.makedirs(self.sinks, exist_ok=True)
        return p

    def _write_cog(self, _):
        tiff.write_cog_parts(
            self.gdf, self.grid, 1, self._fresh("cog"), shard=(inputs.SHARD,) * 2, tile=(inputs.CHUNK,) * 2, compress=1
        )
        return _tree_bytes(self._out("cog"))

    def _write_zarr(self, _):
        zarr.write_zarr(
            self.gdf, self.grid, self._fresh("zarr"), chunks=(inputs.CHUNK,) * 2, compress=3,
            zarr_format=3, shards=(inputs.SHARD,) * 2, codec="blosc:zstd",
        )
        return _tree_bytes(self._out("zarr"))

    def _write_netcdf(self, _):
        cells_df = self.gdf.select(
            F.lit("v").alias("variable"), F.lit(0).cast("long").alias("t"), "row", "col", "value"
        )
        hdf5.write_netcdf4(
            cells_df, self.grid, self._fresh("nc4.nc"), times=None, compress=1, shuffle=True,
            chunk=(inputs.CHUNK,) * 2, parallel=True,
        )
        return os.path.getsize(self._out("nc4.nc"))

    def _bytes_check(self, name: str) -> Callable[[int], bool]:
        def check(n: int) -> bool:
            self.notes[f"{name}.bytes"] = n
            return n > 0

        return check

    def _readback_build(self):
        return [
            tiff.read_geotiff_parts(self.spark, self._out("cog"))[0],
            zarr.read_zarr(self.spark, self._out("zarr"))[0],
            hdf5.read_netcdf4(self.spark, self._out("nc4.nc"))[0],
        ]

    def _readback_run(self, dfs):
        cols = self.grid.cols
        bad = F.sum((F.col("value") != F.col("row") * cols + F.col("col") + 1).cast("long"))
        return [tuple(int(v or 0) for v in df.agg(F.count(F.lit(1)), bad).first()) for df in dfs]

    def ops(self) -> list[Op]:
        g = self.grid
        return [
            Op(
                "focal",
                build=lambda: focal.focal_tiles(self.gdf, g, r=2, tile=128),
                run=lambda df: tuple(df.agg(F.count(F.lit(1)), F.sum("value")).first()),
                check=self._focal_check,
            ),
            Op(
                "cluster",
                build=lambda: vectorize.cluster(
                    self.ccdf, g, lo=self.CC_LO, hi=self.CC_HI, tile=128, single_pass=True
                ),
                run=lambda df: tuple(int(v or 0) for v in df.agg(F.count(F.lit(1)), F.sum("label")).first()),
                check=lambda out: out == self.ref_cc,
            ),
            Op(
                "polygonize",
                build=lambda: vectorize.polygonize_rings(self.rdf, g, tile=256),
                run=lambda df: df.select("value", "wkt").toPandas(),
                check=self._rings_check,
            ),
            Op("cog", run=self._write_cog, check=self._bytes_check("cog")),
            Op("zarr", run=self._write_zarr, check=self._bytes_check("zarr")),
            Op("netcdf", run=self._write_netcdf, check=self._bytes_check("netcdf")),
            Op(
                "readback",
                build=self._readback_build,
                run=self._readback_run,
                check=lambda outs: all(o == (self.grid.rows * self.grid.cols, 0) for o in outs),
            ),
        ]

    def probes(self):
        return [("label", lambda: _noop(vectorize.polygonize(self.rdf, self.grid, tile=256)))]


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


WORKLOADS = {w.name: w for w in (DocJoin, RasterVectorize)}
