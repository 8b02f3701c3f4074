"""Query-catalog families and the benchmarked subset.

``FAMILIES`` assigns each registered query the benchmark knows about
to exactly one family. ``WORKLOAD_QUERIES`` is the list one catalog
pass runs: one query per family, short enough that a cold pass, two
warm passes and the oracle checks fit one benchmark run. The text
family is left out of it: its cheapest query alone costs as much as
two others, and at this scale it measures per-job overhead like the
rest.
"""

from __future__ import annotations

FAMILIES: dict[str, tuple[str, ...]] = {
    "reference": (
        "latest_snapshot", "topk_other", "market_share", "display_snapshot",
        "prices_ohlc_5min",
    ),
    "sql": (
        "q3_shipping_priority", "q5_local_supplier", "q9_product_profit",
        "q18_large_volume", "q21_last_shipper", "events_salted_join",
    ),
    "series": (
        "prices_jump_detect", "prices_ema_macd", "prices_corr_matrix",
        "events_conversion_latency", "events_range_join",
    ),
    "events": (
        "events_item_cf", "orders_basket_affinity", "orders_rfm_segments",
        "events_robust_outliers", "events_cube",
    ),
    "text": (
        "doc_minhash_lsh", "doc_dup_clusters", "doc_lsh_pr_audit",
        "doc_idf_weighted_jaccard", "doc_simhash_neardup",
    ),
    "vector": (
        "emb_ivf_topk", "emb_kmeans", "emb_pq_adc_topk", "emb_cosine_topk",
        "emb_kcenter_sample",
    ),
    "graph": (
        "trade_pagerank", "trade_ppr", "trade_hits", "trade_assortativity",
        "trade_neighbor_jaccard", "events_triangles", "events_ktruss",
        "events_kcore", "events_communities",
    ),
    "media": ("media_audio_decode", "media_image_ahash", "doc_stratified_sample"),
}

WORKLOAD_QUERIES: tuple[str, ...] = (
    "display_snapshot",
    "events_salted_join",
    "events_range_join",
    "events_cube",
    "emb_cosine_topk",
    "trade_neighbor_jaccard",
    "doc_stratified_sample",
)


def family_of(name: str) -> str:
    owners = [f for f, names in FAMILIES.items() if name in names]
    if len(owners) != 1:
        raise KeyError(f"{name} belongs to {len(owners)} families")
    return owners[0]
