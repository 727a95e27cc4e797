"""The frozen analytics slice and its inputs.

The tables are generated from a fixed data seed at a fixed scale; the
run seed only permutes the query order. The slice is three of the
catalog entries that ROADMAP names as targets: one that reads a
checkpointed session substrate, one whose plan construction runs
eager jobs, and one window-heavy ledger query. Every one has a DuckDB
oracle twin, checked once per run.
"""

ANALYTICS_SEED = 42
#: fixture scale factor of the generated tables (12,000 lineitem rows,
#: 500 documents)
ANALYTICS_SCALE = 0.002

SLICE = (
    "q_kruskal_wallis",
    "q_wilcoxon_signed_rank",
    "q_fifo_inventory",
)

#: the entries of ``sources.loaders.warm_substrates``; the traced run
#: reports one ``loaders.substrate.<name>_s`` metric for each and
#: fails if the package's list differs
SUBSTRATES = (
    "daily_orders",
    "part_revenue",
    "cust_revenue",
    "doc_tokens",
    "price_classes",
    "score_classes",
    "chunk_index",
    "ann_exact_panel",
    "ann_lsh_result",
    "ann_ivf12_result",
    "ann_auto_result",
    "als_recs",
    "doc_sketch",
    "doc_bigrams",
    "copurchase_edges",
    "bipartite_edges",
    "order_value_classes",
    "order_value_pivot",
    "cn_edges",
    "rm_hits",
)
