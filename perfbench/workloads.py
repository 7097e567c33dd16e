"""The benchmark's workloads: registry queries (by operator family) and
the scale factor their inputs are generated at. Every run starts from an
empty artifact store. Why each workload exists is in BENCHMARK.json and
README.md.

Each list is a small subset of its families' registries: one run (a fresh
JVM set-up, a cold first pass, warm-up, the steady passes, the oracle
check) has to stay near 50 s on 4 cores, because the benchmark is run
about 50 times in one sitting.
"""

WORKLOADS = {
    # Eager per-round materialization and input re-scans inside build;
    # tiny outputs. Per-round job overhead, not data size, sets the time.
    # graph_kcore materializes about 25 MB per pass.
    "iterative": {
        "sf": 0.01,
        "queries": [
            ("GraphOps", "graph_kcore"),
            ("EventOps", "ev_markov_absorption"),
        ],
    },
    # The first pass builds the IVF and incremental-dedup artifacts into
    # the empty store; steady passes re-attach them.
    "index": {
        "sf": 0.01,
        "queries": [
            ("SimOps", "sim_knn_ivf"),
            ("DedupOps", "dedup_index_expire"),
        ],
    },
}
