"""The benchmark's workloads. perfbench/README.md says why each exists.

Row lists are frozen here (not derived from the engine at run time) so a
change to ``SparkEntry.queries`` cannot silently change what a workload
measures.
"""

# Every 20th row of SparkEntry.queries in SparkEntry order, after removing
# the streaming replay rows (they await the replay fan-out or rebuild a
# replay on first touch) and the rows whose warm, fully materialized time at
# sf0.01 was 1 s or more on the seed code (execution-bound rows; see the
# README for why they are not a workload); plus `multimodal_decode`, as the
# sample has no Multimodal row. No Rag or ServeAll row is eligible: all of
# them await the fan-out.
SURFACE_ROWS = [
    "trifecta_safe_customer", "event_transitions", "blocklist_filter", "bpe_gate",
    "dedup_simhash", "ann_lsh_recall", "multimodal_decode", "index_writer_fencing",
    "semi_anti_join", "sample_stratified", "dedup_ingest_chunk_overlap",
]

# warm_pass_s: nominal warm pass time on a 4-core host; `--seconds` over it
# sets the number of warm passes.
WORKLOADS = {
    "schema_build": {"mode": "schema_build", "inputs": "warehouse", "size": 30,
                     "warm_pass_s": 6.0},
    "surface_sf0.01": {"mode": "queries", "inputs": "lake", "size": 0.01,
                       "rows": SURFACE_ROWS, "warm_pass_s": 4.5},
}
