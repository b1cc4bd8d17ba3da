"""Seeded inputs for the two workloads.

The seed moves the doc key range, the zone set, the face ids, the kNN
queries and the grid value hash. It never changes the sizes, the 20%
hot-box share of docs, the zone covering the hot box or the value
cardinalities, so every seed runs the same amount of work."""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pyramids_spark import cells, synth
from pyramids_spark.grid import Grid, grid_df

#: Sizes for a 4-core box: a run (JVM launch, three set-ups, a warm-up
#: pass, two timed passes) takes 50-65 s, and every op stays latency-bound
#: rather than data-bound.
N_DOCS = 200_000
N_ZONES = 10
ZONE_R2_SUM = 490.0  # 10 zones of radius 7 deg on average
JOIN_ZOOM = 11
TILE_ZOOM = 12
N_FACES = 1_000
FACE_ZOOM = 10
N_QUERIES = 25
KNN_K = 10
N_HOT_QUERIES = 5
GRID = 512
SHARD = 256  # COG shards and zarr shards: 4 per grid
CHUNK = 128  # COG tiles, zarr inner chunks and netCDF-4 chunks
CC_VALUES = 100
RING_VALUES = 7
RING_BLOCK = 8
CKPT_CHUNKS = 2
PART_ZOOM = 3  # pcell partition zoom of the docs table, as in bench.py
HOT_BOX = (-0.5, -0.5, 0.5, 0.5)
DOC_SLOTS = 8  # disjoint doc key ranges, one per seed mod DOC_SLOTS


def doc_slot(seed: int) -> int:
    return seed % DOC_SLOTS


def doc_start(seed: int) -> int:
    """First doc key of the seed's key range."""
    return doc_slot(seed) * N_DOCS


def zones(seed: int) -> list[dict]:
    """``N_ZONES`` hexagons from ``synth.zone_polygons``, each scaled about
    its centre by one factor so that the sum of squared radii is
    ``ZONE_R2_SUM`` for every seed (the zoom-11 cover, and so the join's
    work, then has the same size for every seed). Zone 0 is moved onto the
    origin so it covers the hot box; any other zone that would reach the
    hot box is pushed out along its centre's direction until it clears it,
    so every seed joins the same ~20% hot share exactly once."""
    zs = synth.zone_polygons(N_ZONES, "hex", seed=seed)
    centres = [z["parts"][0].mean(axis=0) for z in zs]
    r2 = sum(float(np.sum((z["parts"][0][0] - c) ** 2)) for z, c in zip(zs, centres))
    f = (ZONE_R2_SUM / r2) ** 0.5
    clear = float(np.hypot(HOT_BOX[2], HOT_BOX[3])) + 0.1  # hot box half-diagonal, and a margin
    for i, (z, c) in enumerate(zip(zs, centres)):
        ring = (z["parts"][0] - c) * f
        if i == 0:
            z["parts"] = [ring]
            continue
        reach = float(np.max(np.hypot(ring[:, 0], ring[:, 1]))) + clear
        d = float(np.hypot(c[0], c[1]))
        if d < reach:
            c = np.array([reach, 0.0]) if d == 0 else c * (reach / d)
        z["parts"] = [c + ring]
    return zs


def prune_cells(zs: list[dict]) -> list[int]:
    """pcell values intersecting any zone (partition-pruning predicate)."""
    out: set[int] = set()
    for z in zs:
        for part in z["parts"]:
            out.update(int(c) for c in cells.cells_covering_polygon(part, PART_ZOOM, "intersects"))
    return sorted(out)


def faces_df(spark, seed: int):
    """``N_FACES`` hexagon faces ``(zone_id, xs, ys)``; the seed shifts the
    face ids (and so their hashed centres and radii)."""
    off = (seed % 97) * N_FACES
    return synth.zone_hexagons_df(spark, off + N_FACES).where(F.col("zone_id") >= off)


def queries(seed: int) -> list[tuple[int, float, float]]:
    """kNN queries: ``N_HOT_QUERIES`` in the hot box, the rest uniform."""
    rng = np.random.default_rng(seed)
    n_cold = N_QUERIES - N_HOT_QUERIES
    x0, y0, x1, y1 = HOT_BOX
    xs = np.concatenate([rng.uniform(x0, x1, N_HOT_QUERIES), rng.uniform(-175.0, 175.0, n_cold)])
    ys = np.concatenate([rng.uniform(y0, y1, N_HOT_QUERIES), rng.uniform(-80.0, 80.0, n_cold)])
    return [(i, float(xs[i]), float(ys[i])) for i in range(N_QUERIES)]


def grid() -> Grid:
    return Grid(x0=0.0, y0=0.0, cell=1.0, rows=GRID, cols=GRID)


def hash_offset(seed: int) -> int:
    """Seed shift of the hash key behind every grid value."""
    return seed * 1_000_003


def cc_grid_df(spark, seed: int):
    """``CC_VALUES``-valued hash grid for ``cluster``; ``cc_values`` is its
    numpy twin."""
    rc = F.col("row") * GRID + F.col("col") + F.lit(hash_offset(seed))
    return grid_df(spark, grid()).withColumn("value", (cells.h1_col(rc) % CC_VALUES).cast("double"))


def cc_values(seed: int) -> np.ndarray:
    rc = np.arange(GRID * GRID, dtype=np.int64) + hash_offset(seed)
    return (cells.h1_np(rc) % CC_VALUES).astype(np.float64).reshape(GRID, GRID)


def ring_grid_df(spark, seed: int):
    """``RING_VALUES``-valued grid of ``RING_BLOCK``² blocks for
    ``polygonize_rings``; ``ring_values`` is its numpy twin."""
    nb = GRID // RING_BLOCK
    bk = (F.col("row") / RING_BLOCK).cast("long") * nb + (F.col("col") / RING_BLOCK).cast("long")
    return grid_df(spark, grid()).withColumn(
        "value", (cells.h2_col(bk + F.lit(hash_offset(seed))) % RING_VALUES).cast("double")
    )


def ring_values(seed: int) -> np.ndarray:
    nb = GRID // RING_BLOCK
    r = np.arange(GRID) // RING_BLOCK
    bk = r[:, None] * nb + r[None, :] + hash_offset(seed)
    return (cells.h2_np(bk.astype(np.int64)) % RING_VALUES).astype(np.float64)


def ensure_docs(spark, work: str, seed: int) -> str:
    """The seed's pcell-partitioned interleaved-docs table: ``N_DOCS`` docs
    with keys from ``doc_start(seed)``, written like ``bench.ensure_docs``.
    The first call writes all ``DOC_SLOTS`` key ranges in one job, each
    under its own ``slot=<k>`` directory; later runs reuse them."""
    root = os.path.join(work, f"docs_n{N_DOCS}x{DOC_SLOTS}")
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        d = synth.documents_full(spark, N_DOCS * DOC_SLOTS, hot_box=HOT_BOX)
        pcx, pcy = cells.geo_cell_col(F.col("x"), F.col("y"), PART_ZOOM)
        d = d.withColumn("pcell", cells.cell_id_col(pcx, pcy, PART_ZOOM)).withColumn(
            "slot", (F.col("key") / N_DOCS).cast("long")
        )
        (
            d.repartition(4 * DOC_SLOTS, F.col("slot"), F.col("pcell"))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 125_000)
            .partitionBy("slot", "pcell")
            .parquet(tmp)
        )
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    return os.path.join(root, f"slot={doc_slot(seed)}")


def read_docs_np(path: str) -> dict[str, np.ndarray]:
    """(key, x, y) of every doc, read with pyarrow for the numpy
    references (no Spark involved)."""
    t = pq.read_table(path, columns=["key", "x", "y"])
    return {c: t.column(c).to_numpy() for c in ("key", "x", "y")}


def table_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "pcell=*", "*.parquet")))
