"""The benchmark's workloads: frozen op lists and input sizes."""

CANARY = "q61_neardup_jaccard"

MODULES = ("Relational", "Joins", "Aggregates", "Windows", "SortSetOps", "ScalarFns",
           "Dedup", "TextOps", "CorpusOps", "VectorOps", "EventOps", "LinkageOps",
           "PreferenceOps", "GraphOps", "Multimodal")

# Heavy queries at sf0.01: the serve of the canonicalization state that
# set-up builds explicitly, and an iterative, shuffle-bound graph query.
HEAVIES = [
    "q303_incremental_containment_stored",
    "q163_pagerank",
]

# Tail queries, where fixed per-query cost (DataFrame build, Catalyst, job
# scheduling) is nearly all of the time: one query of every catalog module
# the heavies do not touch. The first six are, from the 40 fastest at sf0.1
# on 4 cores (0.13-0.38 s each in a one-pass survey of all 311 on generated
# data), the median-latency query of their module; the other modules have
# none among those 40, so theirs is the module's fastest oracle-checked
# query.
TAIL = [
    "q08_cte",                # Relational
    "q13_join_full",          # Joins
    "q27_grouping_sets",      # Aggregates
    "q222_top_paths",         # EventOps
    "q258_lsh_bucket_audit",  # VectorOps
    "q104_bpe_pair_stats",    # CorpusOps
    "q30_topk_per_group",     # Windows
    "q42_multikey_sort",      # SortSetOps
    "q54_conditional",        # ScalarFns
    "q73_fingerprint",        # TextOps
    "q159_fuzzy_linkage",     # LinkageOps
    "q267_rater_agreement",   # PreferenceOps
    "q80_multimodal_meta",    # Multimodal
]

WORKLOADS = {
    "export": {"kind": "export", "rows": 50_000, "heap": "2g",
               "ops": ["single", "partitioned", "compat"] * 7},
    "catalog": {"kind": "catalog", "sf": 0.01, "heap": "3g", "queries": HEAVIES + TAIL,
                "state": ["canon"]},
}
