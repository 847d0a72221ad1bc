"""The benchmark's workloads and the metrics it reports beyond those
BENCHMARK.json declares.

Operation names are keys of graft.SparkEntry.queries; cmapss_etl's
operations are EtlJob.run ("etl") and the four PipelineRunner.dailyFlow
stages ("flow"). Each workload's reason is in BENCHMARK.json.
"""

WORKLOADS = {
    "registry_mix": {
        "kind": "queries",
        "ops": [
            "g3_reach",        # build-dominated: 16 jobs while constructing
            "tpch_q1",         # execution on a single-split scan
            "a13_medians",     # order statistics over pinned grids
            "p1_project",      # projection with a global sort at the root
        ],
        "warm_passes": 4,
    },
    "cmapss_etl": {
        "kind": "cmapss",
        "ops": ["etl", "flow"],
        "warm_passes": 2,
        "datasets": 1,
        "units_per_dataset": 40,
    },
}

# name -> unit. Printed on the report lines where they apply; not in the
# result line.
REPORTED = {
    "op_p50_s": "s",
    "op_p90_s": "s",
    "rows_per_s": "rows/s",
    "write_amp": "bytes/byte",
    "cache_mb": "MB",
    "fail_frac": "ratio",
}
