"""Shared plumbing for the single-file sinks (netCDF-4 in ``hdf5.py``,
GeoTIFF in ``tiff.py``), which both write through one tail: encode and
stage each chunk or tile in the executors, collect the ``(key, nbytes)``
manifest, lay the file out on the driver, then place the staged bytes.
This module holds the two executor-side steps: atomic staging of one
encoded chunk/tile, and the one-job distributed ``pwrite`` copy of the
staged bytes into the laid-out target. One implementation so a
robustness fix (full-write loop, retry atomicity) cannot diverge
between the containers.

Filesystem model (same as every pwrite sink here): the target path and
the scratch directory must be reachable from all executors — local fs
in this sandbox, NFS/Lustre on a real cluster."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
