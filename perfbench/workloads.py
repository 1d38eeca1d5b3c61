"""The benchmark's workloads: which registered queries each runs, on which
inputs, and why. Membership is fixed here; whether a query passes its
output check never changes which queries run."""

# Scale factor of the generated tables (the project's sf fixture shape,
# scaled: lineitem has 6,000,000 x SCALE rows).
SCALE = 0.01

# `round_s` is a round's nominal length on a 4-core host. A run measures
# max(1, seconds // round_s) rounds: a fixed count, so what the medians
# cover does not change with how fast the host happens to be (later rounds
# run warmer code, and a count decided by a clock would mix them in
# differently from run to run).
WORKLOADS = {
    "warehouse_sql": {
        "why": "ad-hoc relational, aggregate, window and top-k SQL over "
               "lineitem/orders/customer: planning, scans, exchanges, joins "
               "and aggregates do the work; no writes, no stream, no "
               "kernel, no CoPurchase",
        "queries": [
            "q03_filter", "q10_join_broadcast", "q24_agg_rollup",
            "q31_win_lag", "q33_topk", "q126_rank_filter",
        ],
        "trips": False,
        "copurchase": False,
        "round_s": 5,
    },
    "curation_ingest": {
        "why": "the monthly ELT (conform, guarded append to a growing "
               "warehouse, raw-zone landing, re-delivery, compaction, "
               "read-back), a streaming dedup, then LLM-data curation: "
               "sink, streams, graft.functions kernels, the CoPurchase build "
               "and a reader of its views",
        "queries": [
            "q125_stream_dedup", "q36_dedup", "q50_similarity",
            "q194_degree_dist", "q139_triangles",
        ],
        "trips": True,
        "copurchase": True,
        "round_s": 14,
    },
}
