"""The benchmark's workloads: inputs, scale and operation list of each.

Every operation is a `graft.SparkEntry.queries` id; the layer beside it is
the module under src/main/scala/graft/ whose public function that query
calls. `sf` is the base scale factor of the generated tables (gen.sizes) and
`replicas` the replication factor applied on top. `warmup_passes` untimed
passes follow the cold pass, and `passes_per_10s` sets how many measured
warm passes --seconds buys (run.warm_passes). dedup_10x's operators keep
speeding up for a dozen passes while the JIT compiles them, and how fast
they get there changes from run to run; four untimed passes take its
measured window off the steep part of that curve.

There are two workloads, with short operation lists, because of the run
budget: a run has to fit a JVM set-up, a cold pass and its warm passes in
about 60 seconds, and each graft query costs a fixed 0.3-1.5 s of planning,
job launch and codegen on four cores.
"""

DEFAULT_SEED = 42

WORKLOADS = {
    # The time-series half of graft on one input: events replicated 10x
    # (ten times the series, each of the base length). Fixed per-query cost
    # (planning, job launch, codegen, the eager index-bounds collect, the
    # replay's query lifecycle and state store) dominates the rolling
    # window, sessionization, parquet round trip and streaming resample;
    # executor CPU inside the per-series groupByKey/mapGroups fits and tests
    # dominates the model operations.
    "series_10x": {
        "tables": ["events"], "sf": 0.004, "replicas": 10,
        "warmup_passes": 0, "passes_per_10s": 5,
        "ops": [
            ("ts03_rollmean", "ts"), ("ev01_sessions", "events"),
            ("ts51_io_parquet_roundtrip", "io"),
            ("st01_streaming_resample_replay", "streaming"),
            ("m01_arima_fit", "models"), ("m09_adf", "stats"),
        ],
    },
    # The candidate-pair term, its shuffle and hot LSH buckets dominate the
    # minhash near-dup and SemDeDup operations: every base document and
    # vector has nine near-duplicate replicas. Connected components
    # (cc01) reads only doc_id < 200, a slice of replica 0, so it sees the
    # base table's planted ~5% near-duplicates and none of the replicas;
    # it is measured on that fixed slice. sf 0.001 is the generator's floor
    # for both tables (250 rows each), so the self-test scale is this
    # workload's own input.
    "dedup_10x": {
        "tables": ["documents", "embeddings"], "sf": 0.001, "replicas": 10,
        "warmup_passes": 4, "passes_per_10s": 6,
        "ops": [
            ("dd03_minhash_neardup", "text"), ("sd01_semantic_dedup", "sim"),
            ("cc01_dup_clusters", "graph"),
        ],
    },
}

LAYERS = ["ts", "events", "io", "models", "stats", "text", "sim", "graph", "streaming"]
COUNTERS = ["build_s", "plan_s", "exec_s", "jobs", "stages", "tasks", "task_cpu_s",
            "task_gc_s", "task_wait_s", "shuffle_write_mb", "spill_mb", "skew",
            "failed_tasks"]
