"""Shared plumbing for the chunked raster sinks (zarr in ``zarr.py``,
netCDF-4 in ``hdf5.py``, GeoTIFF and COG parts in ``tiff.py``). Each
builds its output from ONE encode job (:func:`encode`), which also
observes the declared shape (band count, variable set); the driver lays
the metadata out from the returned manifest. The single-file sinks
(netCDF-4, GeoTIFF) stage each encoded chunk/tile (:func:`write_staged`)
and place the staged bytes with one distributed ``pwrite`` job
(:func:`copy_staged`). One implementation so a robustness fix
(full-write loop, retry atomicity) cannot diverge between the
containers.

Filesystem model (same as every pwrite sink here): the target path and
the scratch directory must be reachable from all executors — local fs
in this sandbox, NFS/Lustre on a real cluster."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def encode(
    cells: DataFrame, key, by: "list[str]", fn, schema: str,
    observe: "dict[str, Column] | None" = None,
) -> "tuple[pd.DataFrame, dict]":
    """The one encode job of a sink: ``observe`` (name → aggregate) rides
    on ``cells`` BEFORE the ``value IS NOT NULL`` filter, so a band or
    variable whose every cell is null is still declared; ``key`` maps the
    non-null cells to the keyed table, and ``fn`` encodes each ``by``
    group into ``schema`` manifest rows. Returns ``(manifest as pandas,
    observed values)``. No sort after the UDF: a range sort's sampler
    would run every encode twice — the manifest is metadata scale, the
    caller orders it."""
    obs = Observation()
    if observe:
        cells = cells.observe(obs, *(c.alias(n) for n, c in observe.items()))
    man = key(cells.where(F.col("value").isNotNull())).groupBy(*by) \
        .applyInPandas(fn, schema).toPandas()
    return man, (obs.get if observe else {})


def write_staged(fn: str, data: bytes) -> None:
    """Write one staged file atomically against CONCURRENT task attempts
    (speculation, zombie tasks): a pid-unique tmp name, then
    ``os.replace``. A fixed ``.tmp`` suffix would let attempt B truncate
    the inode attempt A is mid-write on."""
    tmp = f"{fn}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, fn)


def _pwrite_all(fd: int, raw: bytes, at: int) -> None:
    """``os.pwrite`` is one syscall and may write SHORT (NFS rsize/wsize,
    signal interruption, >2 GiB buffers) — loop until every byte lands,
    like buffered ``fh.write`` does."""
    view = memoryview(raw)
    done = 0
    while done < len(raw):
        n = os.pwrite(fd, view[done:], at + done)
        if n <= 0:
            raise OSError(f"pwrite returned {n} at offset {at + done}")
        done += n


def copy_staged(
    spark: SparkSession, path: str,
    triples: "list[tuple[str, int, int]]", what: str,
) -> None:
    """Copy staged files into ``path`` in one Spark job: ``triples`` =
    [(staged file, target offset, expected nbytes)], metadata scale,
    spread over ``min(defaultParallelism, len(triples))`` partitions.
    Verifies each file's size and the total copied count; ``what`` names
    the unit ("chunks"/"tiles") in errors."""
    if not triples:
        return

    def copy(part):
        fd = os.open(path, os.O_WRONLY)
        n = 0
        try:
            for fn, at, nb in part:
                with open(fn, "rb") as f:
                    raw = f.read()
                if len(raw) != nb:
                    raise ValueError(
                        f"staged file {fn} is {len(raw)} bytes, "
                        f"manifest says {nb}")
                _pwrite_all(fd, raw, at)
                n += 1
        finally:
            os.close(fd)
        yield n

    sc = spark.sparkContext
    wrote = sum(sc.parallelize(triples, min(sc.defaultParallelism,
                                            len(triples)))
                .mapPartitions(copy).collect())
    if wrote != len(triples):
        raise ValueError(
            f"staged copy wrote {wrote} {what}, expected {len(triples)}")
