"""Seeded benchmark of pyramids_spark: two workloads, checked outputs,
end-to-end metrics and an event-log traced per-layer run. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root."""
