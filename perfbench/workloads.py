"""The benchmark's workloads: registered query names, run as one closed-loop
client. The engine receives only a query name and the sf directory; the
seed decides the order of the queries in every pass.

Each list is a subset of a larger family, sized so that one run (session
start, a gated cold pass and at least two warm passes) takes under a
minute on a 4-core host that runs a warm olap_sql pass in 6 s.
"""

from __future__ import annotations

WORKLOADS = {
    "olap_sql": {
        "why": "read-only SQL: sub-second scans, aggregates and shuffle joins where planning and fixed driver cost show;"
        " bypasses dedup/similarity and the commit protocol",
        "queries": [
            "g4_promo_revenue_share",
            "g11_disjunctive_brackets",
            "j1_inner_equijoin",
            "j3_broadcast_dim_join",
            "j5_left_anti_join",
            "u2_except_difference",
            "r3_topk_orders",
            "a8_completeness_profile",
            "a10_rollup_summary",
            "x3_tumbling_window",
            "w1_dedup_rank",
            "q1_rule_violations",
        ],
    },
    "llm_corpus": {
        "why": "read-only corpus operators: pandas/Arrow UDFs, shingle and cosine kernels and cache ownership; no commits",
        "queries": [
            "l1_exact_dedup",
            "l2_ngram_jaccard_pairs",
            "l3_cosine_topk",
            "l3_mmr_topk",
            "t4_vocabulary",
            "t14_pii_scrub",
            "t18_span_dedup",
            "v2_quantize_int8",
            "l4_text_stats",
        ],
    },
    "index_maintenance": {
        "why": "write-heavy lifecycle probes: many small sequential jobs plus txn/generation-log commit file IO",
        "queries": [
            "x18_txn_time_travel",
            "s21_schema_widen_append",
            "x15_txn_multi_writer_occ",
            "s19_gdpr_erase_subject",
        ],
    },
}

# Registered queries of a workload's family that fail their oracle check
# today. They run once per run, after the gate and outside the timed
# passes, and are reported beside the workload's own failure share; the
# timed workload holds only queries that pass.
KNOWN_DEFECTS = {
    "olap_sql": ["a6_grouped_pricing_summary"],
    "llm_corpus": ["l3_semantic_dedup"],
    "index_maintenance": [],
}
