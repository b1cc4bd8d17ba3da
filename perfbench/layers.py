"""Per-layer metrics of the traced run, and which end-to-end metric each
one should move on which workload.

Names are ``<op>.<field>`` for every op, then per-workload and named
sub-layer metrics. A traced run prints every name; names of ops and layers
its workload does not run read 0."""

from __future__ import annotations

import statistics
from collections import Counter

from .eventlog import EventLog, Span, node_metric

#: op → (workload, end-to-end step metric its time lands in)
OPS = {
    "flagship": ("doc_join", "op1_s"),
    "pip_faces": ("doc_join", "op2_s"),
    "knn": ("doc_join", "op3_s"),
    "focal": ("raster_vectorize", "op1_s"),
    "cluster": ("raster_vectorize", "op2_s"),
    "polygonize": ("raster_vectorize", "op3_s"),
    "ckpt": ("doc_join", "op4_s"),
    "cog": ("raster_vectorize", "op4_s"),
    "zarr": ("raster_vectorize", "op4_s"),
    "netcdf": ("raster_vectorize", "op4_s"),
    "readback": ("raster_vectorize", "op4_s"),
}

#: per-op field → what it measures
OP_FIELDS = {
    "build_s": "wall of the call into the operator, before the action",
    "build_jobs": "Spark jobs run by that call",
    "jobs": "Spark jobs of the op, build and action",
    "cpu_s": "executor CPU time of the op's tasks",
    "gc_s": "JVM GC time of the op's tasks",
    "core_idle_frac": "1 - executor run time / (op wall x cores)",
    "shuffle_bytes": "shuffle bytes written",
    "python_s": "time to run Python workers (Arrow boundary)",
    "python_bytes": "Arrow bytes sent to and returned from Python workers",
}

ALL = ("doc_join", "raster_vectorize")

#: end-to-end metric → (workloads, what it measures)
END_TO_END = {
    "setup_s": (ALL, "median of three set-ups: session start + input load/persist"),
    "peak_rss_mb": (ALL, "peak summed RSS of the driver, the JVM and the Python workers"),
    "pass_s": (ALL, "median wall of the timed passes; a pass runs every step its reps times"),
    "op1_s": (ALL, "median wall per call of step 1: flagship / focal_tiles"),
    "op2_s": (ALL, "median wall per call of step 2: pip_join_df faces / cluster"),
    "op3_s": (ALL, "median wall per call of step 3: kNN / polygonize_rings"),
    "op4_s": (ALL, "median wall per call of step 4: checkpointed crash+resume / COG+zarr+netCDF-4 sinks and read-back"),
}

#: named metric → (workloads, the end-to-end metric it should move and why)
NAMED = {
    "task_failures": (ALL, "any op wall; retried tasks repeat work"),
    "spill_bytes": (ALL, "op walls and peak_rss_mb; spill is memory pressure"),
    "trace_overhead_frac": (ALL, "none; first traced pass vs the first untraced pass of the session before, the event log's cost"),
    "span_coverage_frac": (ALL, "none; share of the traced pass wall inside op spans"),
    "fail_frac": (ALL, "none; failed ops / attempted ops, 0 when every check passes"),
    "scan.docs_s": (("doc_join",), "op1_s and op4_s on doc_join; pruned (x, y) scan to a noop sink"),
    "scan.files_read": (("doc_join",), "op1_s on doc_join; files the pruned scan opens"),
    "scan.bytes_read": (("doc_join",), "op1_s on doc_join; bytes the pruned scan reads"),
    "cells.encode_s": (("doc_join",), "op1_s and op4_s on doc_join; scan + with_cell_id minus scan"),
    "audit.span_s": (("doc_join",), "op1_s on doc_join; the span-hash audit alone, the branch parallel to the join"),
    "pip.cover_s": (("doc_join",), "op1_s and op4_s on doc_join; driver-side zone_cover"),
    "pip.cover_df_s": (("doc_join",), "op2_s on doc_join; zone_cover_df of the faces to a noop sink"),
    "pip.candidates": (("doc_join",), "op1_s on doc_join; rows out of the flagship's cell join, before refine"),
    "pip.kept_ratio": (("doc_join",), "op1_s on doc_join; joined docs / cell-join rows (refine selectivity)"),
    "knn.candidates_per_result": (("doc_join",), "op3_s on doc_join; partial top-k rows / (queries x k)"),
    "vectorize.label_s": (("raster_vectorize",), "op3_s on raster_vectorize; polygonize labels to a noop sink"),
    "vectorize.rings": (("raster_vectorize",), "op3_s on raster_vectorize; rings written"),
    "vectorize.vertices": (("raster_vectorize",), "op3_s on raster_vectorize; ring vertices written"),
    "cog.write_s": (("raster_vectorize",), "op4_s on raster_vectorize; the COG sink alone"),
    "zarr.write_s": (("raster_vectorize",), "op4_s on raster_vectorize; the zarr sink alone"),
    "netcdf.write_s": (("raster_vectorize",), "op4_s on raster_vectorize; the netCDF-4 sink alone"),
    "cog.bytes": (("raster_vectorize",), "op4_s on raster_vectorize; codec time traded against bytes"),
    "zarr.bytes": (("raster_vectorize",), "op4_s on raster_vectorize; codec time traded against bytes"),
    "netcdf.bytes": (("raster_vectorize",), "op4_s on raster_vectorize; codec time traded against bytes"),
    "bytes_per_cell": (("raster_vectorize",), "op4_s on raster_vectorize; bytes of all three sinks / cells"),
    "ckpt.scan_amplification": (("doc_join",), "op4_s on doc_join; docs bytes scanned by chunk jobs / table bytes"),
    "ckpt.useful_chunk_frac": (("doc_join",), "op4_s on doc_join; chunks / chunk executions"),
    "ckpt.resume_s": (("doc_join",), "op4_s on doc_join; the resumed job's wall"),
}


def spec() -> dict[str, tuple[tuple[str, ...], str]]:
    """Every per-layer metric → (workloads, what it should move)."""
    out = {}
    for op, (wl, step) in OPS.items():
        for field, what in OP_FIELDS.items():
            out[f"{op}.{field}"] = ((wl,), f"{step} on {wl}; {what}")
    out.update(NAMED)
    return out


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(wl, log: EventLog, spans: list[Span], passes, plain: dict, probes, cores: int) -> dict:
    """Values of every per-layer metric for one traced run of ``wl``;
    ``probes`` maps each probe to (wall seconds, its return value)."""
    out = {name: 0.0 for name in spec()}
    totals = log.span_totals(spans)
    by = {(s.op, s.phase, s.pass_no, s.rep): s for s in spans}
    n_pass = range(len(passes))

    def op_rows(op):
        for (o, phase, p, rep), b in by.items():
            r = by.get((op, "run", p, rep))
            if o == op and phase == "build" and p in n_pass and r is not None:
                yield b, r, totals[b], totals[r] + totals[b]

    for op in (o for step in wl.steps for o in step):
        rows = list(op_rows(op))
        fields = {
            "build_s": [b.end - b.start for b, _, _, _ in rows],
            "build_jobs": [tb["jobs"] for _, _, tb, _ in rows],
            "jobs": [t["jobs"] for _, _, _, t in rows],
            "cpu_s": [t["cpu_s"] for _, _, _, t in rows],
            "gc_s": [t["gc_s"] for _, _, _, t in rows],
            "core_idle_frac": [1 - t["run_s"] / ((r.end - b.start) * cores) for b, r, _, t in rows],
            "shuffle_bytes": [t["shuffle_bytes"] for _, _, _, t in rows],
            "python_s": [t["python_s"] for _, _, _, t in rows],
            "python_bytes": [t["python_bytes"] for _, _, _, t in rows],
        }
        for field, xs in fields.items():
            out[f"{op}.{field}"] = _median(xs)

    def run_metric(op, node, metric, location=""):
        return _median([node_metric(totals[r], node, metric, location) for _, r, _, _ in op_rows(op)])

    in_pass = [sum((totals[s] for s in spans if s.pass_no == p), Counter()) for p in n_pass]
    out["task_failures"] = sum(c["task_failures"] for c in log.tasks.values())
    out["spill_bytes"] = _median([c["spill_bytes"] for c in in_pass])
    # the plain pass is the first of its session, like the first traced one
    out["trace_overhead_frac"] = passes[0]["wall"] / plain["wall"] - 1
    out["span_coverage_frac"] = _median(
        [sum(w for ws in p["ops"].values() for w in ws if w is not None) / p["wall"] for p in passes]
    )
    notes = wl.notes
    wall = {name: w for name, (w, _) in probes.items()}
    if wl.name == "doc_join":
        scan = totals[by[("scan", "probe", -3, 0)]]
        out["scan.docs_s"] = wall["scan"]
        out["scan.files_read"] = node_metric(scan, "Scan", "number of files read")
        out["scan.bytes_read"] = node_metric(scan, "Scan", "size of files read")
        out["cells.encode_s"] = wall["encode"] - wall["scan"]
        out["audit.span_s"] = wall["audit"]
        out["pip.cover_s"] = wall["cover"]
        out["pip.cover_df_s"] = wall["cover_df"]
        cand = probes["candidates"][1]
        out["pip.candidates"] = cand
        out["pip.kept_ratio"] = notes["joined_docs"] / cand
        partial = run_metric("knn", "MapInPandas", "number of output rows")
        out["knn.candidates_per_result"] = partial / (len(wl.queries) * wl.k)
        scanned = run_metric("ckpt", "Scan", "size of files read", wl.path)
        out["ckpt.scan_amplification"] = scanned / wl.table_bytes
        out["ckpt.useful_chunk_frac"] = notes["ckpt.useful_chunk_frac"]
        out["ckpt.resume_s"] = notes["ckpt.resume_s"]
    elif wl.name == "raster_vectorize":
        out["vectorize.label_s"] = wall["label"]
        out["vectorize.rings"] = notes["rings"]
        out["vectorize.vertices"] = notes["vertices"]
        for sink in ("cog", "zarr", "netcdf"):
            out[f"{sink}.write_s"] = _median([w for p in passes for w in p["ops"][sink] if w is not None])
            out[f"{sink}.bytes"] = notes[f"{sink}.bytes"]
        out["bytes_per_cell"] = sum(notes[f"{s}.bytes"] for s in ("cog", "zarr", "netcdf")) / wl.cells
    return out
