"""Checkpoint/resume: crash mid-job → resume skips committed chunks; final
result equals the single-shot run; lineage/metrics tables populated."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyramids_spark import synth
from pyramids_spark.checkpoint import CheckpointedJob, key_range_chunks
from pyramids_spark.operators import pip as pip_op


def _job(zones):
    def run(spark, chunk):
        pts = synth.doc_points(spark, chunk["hi"]).where(
            (F.col("key") >= chunk["lo"]) & (F.col("key") < chunk["hi"])
        )
        return pip_op.pip_join(pts, zones, zoom=7).select("key", "zone_id")

    return run


def test_resume_skips_committed_and_matches_single_shot(spark, tmp_path):
    zones = synth.zone_polygons(5, "hex")
    chunks = key_range_chunks(4000, 4)
    job = _job(zones)

    # crash after 2 chunks
    cp = CheckpointedJob(spark, str(tmp_path), "pipjob")
    boom = {"n": 0}

    def crashing(spark_, chunk):
        if boom["n"] >= 2:
            raise RuntimeError("simulated executor loss")
        boom["n"] += 1
        return job(spark_, chunk)

    with pytest.raises(RuntimeError):
        cp.run(chunks, crashing)
    assert len(cp.committed()) == 2

    # resume with the healthy job
    cp2 = CheckpointedJob(spark, str(tmp_path), "pipjob")
    lineage = cp2.run(chunks, job)
    assert len(cp2.committed()) == 4
    assert lineage["0"]["skipped"] and lineage["1"]["skipped"]
    assert not lineage["2"].get("skipped") and not lineage["3"].get("skipped")

    # equals single-shot
    got = cp2.result().toPandas().sort_values(["key", "zone_id"]).reset_index(drop=True)
    pts = synth.doc_points(spark, 4000)
    exp = (
        pip_op.pip_join(pts, zones, zoom=7)
        .select("key", "zone_id")
        .toPandas()
        .sort_values(["key", "zone_id"])
        .reset_index(drop=True)
    )
    assert got.equals(exp)

    # lineage + metrics tables
    ldf = cp2.lineage_df().toPandas()
    assert set(ldf.chunk) == {"0", "1", "2", "3"}
    assert (ldf.rows_out >= 0).all() and (ldf.attempt >= 1).all()
    mdf = cp2.metrics_df().toPandas()
    assert "rows_per_sec" in mdf.columns and len(mdf) == 4

    # snapshot pins the chunk set
    v = cp2.snapshot()
    assert v == 1


def test_rerun_is_idempotent(spark, tmp_path):
    zones = synth.zone_polygons(3, "box")
    chunks = key_range_chunks(1000, 3)
    job = _job(zones)
    cp = CheckpointedJob(spark, str(tmp_path), "j2")
    cp.run(chunks, job)
    n1 = cp.result().count()
    r2 = cp.run(chunks, job)  # all skipped
    assert all(v.get("skipped") for v in r2.values())
    assert cp.result().count() == n1


def test_chunk_row_count_rides_on_the_write_job(spark, tmp_path, build_jobs):
    """A committed chunk runs only the jobs of its own parquet write: the
    row count comes from an Observation on the written plan, not from
    re-reading the chunk. ``rows_out`` equals the rows on disk, an empty
    chunk included, and the lineage file keeps its fields."""
    import json
    import os

    zones = synth.zone_polygons(5, "hex")
    chunks = key_range_chunks(3000, 3) + [{"id": 3, "lo": 5000, "hi": 5000}]
    job = _job(zones)
    plain = sum(
        build_jobs(lambda: job(spark, c).write.parquet(str(tmp_path / f"plain{c['id']}")),
                   f"ckpt-plain-{c['id']}")
        for c in chunks
    )
    cp = CheckpointedJob(spark, str(tmp_path), "observed")
    lineage = {}
    n = build_jobs(lambda: lineage.update(cp.run(chunks, job)), "ckpt-observed")
    assert n == plain
    for c in chunks:
        cid = str(c["id"])
        on_disk = spark.read.parquet(os.path.join(cp.dir, "data", f"chunk={cid}")).count()
        assert lineage[cid]["rows_out"] == on_disk
        with open(os.path.join(cp.dir, "lineage", f"chunk={cid}.json")) as f:
            assert set(json.load(f)) == {"chunk", "input", "rows_out", "wall_s",
                                         "attempt", "committed_at"}
    assert lineage["3"]["rows_out"] == 0 and lineage["0"]["rows_out"] > 0
    cp.close()


def test_writer_lock_blocks_second_live_writer(spark, tmp_path):
    import os
    import pytest

    cp = CheckpointedJob(spark, str(tmp_path), "locked")
    # same process re-opening is allowed (resume flow)
    CheckpointedJob(spark, str(tmp_path), "locked")
    # a DIFFERENT live pid holding the lock must be refused
    lock = os.path.join(str(tmp_path), "locked", "_writer.lock")
    with open(lock, "w") as f:
        f.write("1")  # pid 1 is always alive
    with pytest.raises(RuntimeError, match="locked by live writer"):
        CheckpointedJob(spark, str(tmp_path), "locked")
    # stale lock (dead pid) is taken over silently
    with open(lock, "w") as f:
        f.write("999999999")
    CheckpointedJob(spark, str(tmp_path), "locked")
    cp.close()


def test_snapshot_sorts_chunk_ids_numerically(spark, tmp_path):
    import json
    import os

    cp = CheckpointedJob(spark, str(tmp_path), "snapsort")
    for cid in ["2", "10", "1"]:
        cp._commit(cid, {"chunk": cid, "rows_out": 0, "wall_s": 0.0,
                         "attempt": 1, "committed_at": 0.0})
    v = cp.snapshot()
    with open(os.path.join(str(tmp_path), "snapsort", "snapshots", f"v{v}.json")) as f:
        snap = json.load(f)
    assert snap["chunks"] == ["1", "2", "10"]
    cp.close()


def test_from_stac_bbox_filter_and_temporal_stack(spark, tmp_path):
    """STAC ingest: raw-JSON duck typing, bbox catalog pruning, KeyError on
    a missing asset, ValueError on empty filter result (reference
    _stac.py:106-186)."""
    import pytest
    from pyspark.sql import functions as F

    from pyramids_spark.grid import Grid, grid_df
    from pyramids_spark.stac import from_stac

    g = Grid(x0=0.0, y0=4.0, cell=1.0, rows=4, cols=4)
    paths = []
    for i in range(3):
        p = str(tmp_path / f"scene{i}.parquet")
        grid_df(spark, g, f"CAST(row * 4 + col + {i * 100} AS DOUBLE)").write.parquet(p)
        paths.append(p)
    items = [
        {"assets": {"B04": {"href": paths[0]}}, "bbox": [0.0, 0.0, 4.0, 4.0]},
        {"assets": {"B04": {"href": paths[1]}}, "bbox": [2.0, 2.0, 6.0, 6.0]},
        {"assets": {"B04": {"href": paths[2]}}, "bbox": [50.0, 50.0, 60.0, 60.0]},
    ]
    out = from_stac(spark, items, "B04", bbox=(0.0, 0.0, 3.0, 3.0))
    ts = sorted(r[0] for r in out.select("t").distinct().collect())
    assert ts == [0, 1]  # scene2's bbox misses → pruned at the catalog
    assert out.count() == 32
    # temporal reduce over the stack works end-to-end
    from pyramids_spark.api import SparkDatasetCollection

    red = SparkDatasetCollection(out.withColumn("band", F.lit(0))).reduce("max")
    assert red.count() == 16
    with pytest.raises(KeyError):
        from_stac(spark, items, "B99")
    with pytest.raises(ValueError):
        from_stac(spark, items, "B04", bbox=(100.0, 100.0, 101.0, 101.0))


def test_spark_submit_job_end_to_end_and_resume(spark, tmp_path):
    """The north-rule deployment shape, actually executed: spark-submit
    --py-files <zip> jobs/pip_tiling_job.py against a synthesized
    documents table; a second submit must resume (skip committed chunks)
    and produce a new snapshot over identical data."""
    import os
    import subprocess
    import zipfile

    from pyramids_spark import synth

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    synth.documents_full(spark, 3000, partitions=4).write.parquet(inp)

    zpath = str(tmp_path / "pyramids_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(repo, "pyramids_spark")):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, repo))

    cmd = [
        "spark-submit", "--master", "local[2]", "--py-files", zpath,
        os.path.join(repo, "jobs", "pip_tiling_job.py"),
        "--input", inp, "--output", out, "--chunks", "3", "--zones", "5",
    ]
    env = {**os.environ, "PYSPARK_PYTHON": os.sys.executable}
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert "span-invariant violations: 0" in r1.stdout
    assert "snapshot v1; 3 chunks" in r1.stdout
    data_dirs = os.listdir(os.path.join(out, "pip_tiling", "data"))
    assert sorted(data_dirs) == ["chunk=0", "chunk=1", "chunk=2"]

    # resume: everything committed → chunks skipped, new snapshot pinned
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "span-invariant violations: 0" in r2.stdout
    assert "snapshot v2; 3 chunks" in r2.stdout
