"""The benchmark's workloads: which fixture, which queries.

Every query listed here has a DuckDB oracle in SparkEntry.oracleSqlFor.
README.md records why each workload was chosen and which queries were
left out, and why.
"""

# The module each query's registry entry calls into (SparkEntry.queries).
MODULE = {
    "q01_dup_gate": "Relational",
    "q02_agg_pricing": "Relational",
    "q03_join_revenue": "Relational",
    "q11_topk_window": "Relational",
    "q16_exact_dedup": "Dedup",
    "q21_cosine_topk": "Similarity",
    "q25_doc_metrics": "TextAnalysis",
    "q52_neardup_clusters": "Dedup",
    "q117_incremental_novelty": "IncrementalDedup",
    "q170_streaming_k_anonymity": "streaming",
}

# fixture: "sf0.1" is the committed copy under fixtures/; "x10" is made
# from it by graft.tools.ScaleUp on first use.
WORKLOADS = {
    "fixedcost": {
        "fixture": "sf0.1",
        "queries": ["q01_dup_gate", "q11_topk_window", "q16_exact_dedup",
                    "q21_cosine_topk", "q25_doc_metrics", "q52_neardup_clusters",
                    "q117_incremental_novelty", "q170_streaming_k_anonymity"],
    },
    "scale": {
        "fixture": "x10",
        "queries": ["q02_agg_pricing", "q03_join_revenue", "q16_exact_dedup",
                    "q25_doc_metrics"],
    },
}
