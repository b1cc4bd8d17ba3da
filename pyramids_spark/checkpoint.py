"""Resumable jobs: snapshot checkpoints + per-partition lineage & metrics.

North-rule contract: "resumable from checkpoint with per-partition lineage +
metrics". No Iceberg runtime jar ships in this sandbox, so we implement the
same snapshot semantics over parquet ourselves (SURVEY §7.0 storage
decision): a job writes its output in independent CHUNKS (disjoint slices of
the input keyspace — the unit of restart, ≙ an Iceberg partition commit);
each committed chunk appends an atomic manifest entry; a snapshot file pins
the set of committed chunks. Re-running a half-finished job skips committed
chunks and finishes the rest — exactly once per chunk, idempotent overall.

Layout under ``<root>/<job_id>/``::

    data/chunk=<k>/...parquet      committed output slices
    lineage/chunk=<k>.json         per-chunk lineage: input range, row counts,
                                   wall time, attempt number, spark conf hash
    _manifest.json                 committed chunk ids (atomic rename updates)
    snapshots/v<N>.json            snapshot = manifest version + chunk list

Atomicity: each chunk's data is written to a temp dir then renamed; the
manifest is rewritten via temp-file + ``os.replace`` (POSIX-atomic). On a
real cluster the same protocol runs against an object store with
conditional-put (or is replaced by Iceberg commits); the engine code is
identical either way.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True  # e.g. PermissionError: exists but owned by another user
    return True


class CheckpointedJob:
    """Single-writer per job dir: the manifest is read-modify-write, so two
    drivers resuming the same job_id concurrently could silently drop each
    other's committed chunks (ADVICE r1). A pid lock file enforces one live
    writer; a lock whose pid is dead (crashed driver) is taken over — the
    documented resume-after-failure flow."""

    def __init__(self, spark: SparkSession, root: str, job_id: str):
        self.spark = spark
        self.dir = os.path.join(root, job_id)
        os.makedirs(os.path.join(self.dir, "data"), exist_ok=True)
        os.makedirs(os.path.join(self.dir, "lineage"), exist_ok=True)
        os.makedirs(os.path.join(self.dir, "snapshots"), exist_ok=True)
        self._acquire_writer_lock()

    def _acquire_writer_lock(self) -> None:
        lock = os.path.join(self.dir, "_writer.lock")
        for _ in range(3):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return
            except FileExistsError:
                try:
                    with open(lock) as f:
                        pid = int(f.read().strip() or "0")
                except (ValueError, OSError):
                    pid = 0
                if pid == os.getpid():
                    return  # reentrant: resume within the same driver
                if pid and _pid_alive(pid):
                    raise RuntimeError(
                        f"checkpoint job dir {self.dir} is locked by live "
                        f"writer pid {pid}; refusing concurrent writes"
                    )
                # stale lock from a dead driver: take over
                try:
                    os.unlink(lock)
                except FileNotFoundError:
                    pass
        raise RuntimeError(f"could not acquire writer lock in {self.dir}")

    def close(self) -> None:
        """Release the writer lock (only if this process holds it)."""
        lock = os.path.join(self.dir, "_writer.lock")
        try:
            with open(lock) as f:
                if int(f.read().strip() or "0") == os.getpid():
                    os.unlink(lock)
        except (FileNotFoundError, ValueError, OSError):
            pass

    # --- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, "_manifest.json")

    def committed(self) -> dict[str, dict]:
        if not os.path.exists(self._manifest_path):
            return {}
        with open(self._manifest_path) as f:
            return json.load(f)["chunks"]

    def _commit(self, chunk_id: str, meta: dict) -> None:
        chunks = self.committed()
        chunks[chunk_id] = meta
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"chunks": chunks, "updated": time.time()}, f, indent=1)
        os.replace(tmp, self._manifest_path)  # POSIX-atomic

    def snapshot(self) -> int:
        """Pin the current committed set as a new snapshot version."""
        snaps = os.listdir(os.path.join(self.dir, "snapshots"))
        v = 1 + max((int(s[1:-5]) for s in snaps), default=0)
        # numeric-aware chunk order: lexicographic puts '10' before '2'
        chunk_ids = sorted(
            self.committed(),
            key=lambda c: (0, int(c), "") if c.isdigit() else (1, 0, c),
        )
        with open(os.path.join(self.dir, "snapshots", f"v{v}.json"), "w") as f:
            json.dump({"version": v, "chunks": chunk_ids,
                       "ts": time.time()}, f, indent=1)
        return v

    # --- execution ---------------------------------------------------------
    def run(
        self,
        chunks: list[dict],
        job: Callable[[SparkSession, dict], DataFrame],
    ) -> dict:
        """Run ``job(spark, chunk)`` for every not-yet-committed chunk;
        returns {chunk_id: lineage}. Each chunk's output lands under
        ``data/chunk=<id>/``; lineage+metrics recorded per chunk."""
        done = self.committed()
        out: dict[str, dict] = {}
        for chunk in chunks:
            cid = str(chunk["id"])
            if cid in done:
                out[cid] = {**done[cid], "skipped": True}
                continue
            attempt = self._next_attempt(cid)
            t0 = time.time()
            df = job(self.spark, chunk)
            tmp = os.path.join(self.dir, "data", f"_tmp_chunk={cid}")
            final = os.path.join(self.dir, "data", f"chunk={cid}")
            shutil.rmtree(tmp, ignore_errors=True)
            # the row count rides on the write's own job: an Observation at
            # the top of the written plan runs in the result stage, whose
            # accumulator updates count each task once (a re-read of the
            # chunk cost 3 more jobs)
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(tmp)
            n_out = obs.get["rows"]
            shutil.rmtree(final, ignore_errors=True)
            os.rename(tmp, final)
            lineage = {
                "chunk": cid,
                "input": {k: v for k, v in chunk.items() if k != "id"},
                "rows_out": n_out,
                "wall_s": round(time.time() - t0, 3),
                "attempt": attempt,
                "committed_at": time.time(),
            }
            with open(os.path.join(self.dir, "lineage", f"chunk={cid}.json"), "w") as f:
                json.dump(lineage, f, indent=1)
            self._commit(cid, lineage)
            out[cid] = lineage
        return out

    def _next_attempt(self, cid: str) -> int:
        p = os.path.join(self.dir, "lineage", f"chunk={cid}.json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f).get("attempt", 0) + 1
        return 1

    # --- reads -------------------------------------------------------------
    def result(self) -> DataFrame:
        """Union of all committed chunks."""
        paths = [
            os.path.join(self.dir, "data", f"chunk={c}") for c in self.committed()
        ]
        if not paths:
            raise FileNotFoundError("no committed chunks")
        return self.spark.read.parquet(*paths)

    def lineage_df(self) -> DataFrame:
        """Per-partition lineage as a queryable table."""
        rows = list(self.committed().values())
        return self.spark.createDataFrame(
            [
                (
                    r["chunk"],
                    json.dumps(r.get("input", {})),
                    r["rows_out"],
                    float(r["wall_s"]),
                    int(r["attempt"]),
                    float(r["committed_at"]),
                )
                for r in rows
            ],
            "chunk string, input string, rows_out long, wall_s double, "
            "attempt int, committed_at double",
        )

    def metrics_df(self) -> DataFrame:
        """Job-level metrics derived from lineage (rows/sec per chunk etc.)."""
        l = self.lineage_df()
        return l.select(
            "chunk",
            "rows_out",
            "wall_s",
            F.round(F.col("rows_out") / F.col("wall_s"), 2).alias("rows_per_sec"),
            "attempt",
        )


def key_range_chunks(n_keys: int, n_chunks: int) -> list[dict]:
    """Disjoint [lo, hi) key ranges — the natural chunking for hash-derived
    doc keys (every chunk regenerates/reads deterministically from its
    range, so a retry is exact)."""
    step = (n_keys + n_chunks - 1) // n_chunks
    return [
        {"id": i, "lo": i * step, "hi": min(n_keys, (i + 1) * step)}
        for i in range(n_chunks)
        if i * step < n_keys
    ]
