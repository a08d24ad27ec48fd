from .aggregates import conditional_count, daily_avg, mode_by_group
from .bitext import margin_bitext_mine
from .dedup import dedup_keep_first
from .funnel import funnel_report, funnel_steps
from .scd import scd2_history
from .diversity import ngram_diversity_stats
from .normalize import (
    assemble_trajectories,
    chunk_documents,
    normalize_nutrition_xml,
    normalize_pets_json,
)
from .percentile import global_percentile_bounds, percentile_trim
from .profile import (
    correlation_matrix,
    profile_table,
    skew_report,
    value_histogram,
)
from .heavy_hitters import heavy_hitters
from .rank import global_rank
from .retrieval import jaccard_topk, rrf_fuse
from .setsim import prefix_filter_jaccard_pairs
from .trending import decayed_counts
from .graph import degree_stats, pagerank_exact
from .cdc import cdc_apply
from .sampling import (
    cluster_balanced_sample,
    distribution_matched_sample,
    hash_split,
    leakage_safe_split,
    pack_sequences,
    quota_sample,
    temperature_mixture_sample,
    training_shuffle,
)
from .similarity import (
    brute_force_topk,
    cosine,
    embedding_near_dup_ids,
    ivf_topk,
)
from .skew import salted_join
from .text_dedup import (
    exact_dedup,
    incremental_dedup,
    incremental_minhash_dedup,
    minhash_dedup,
    minhash_dedup_keep_best,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    remove_duplicate_spans,
    segment_boilerplate_removal,
    simhash,
    simhash_near_pairs,
)
from .topk import topk_extremes
from .url_curation import cap_per_domain, dedup_canonical_url

__all__ = [
    "heavy_hitters",
    "prefix_filter_jaccard_pairs",
    "jaccard_topk",
    "rrf_fuse",
    "decayed_counts",
    "conditional_count",
    "margin_bitext_mine",
    "cap_per_domain",
    "dedup_canonical_url",
    "daily_avg",
    "mode_by_group",
    "dedup_keep_first",
    "funnel_report",
    "funnel_steps",
    "scd2_history",
    "ngram_diversity_stats",
    "assemble_trajectories",
    "chunk_documents",
    "normalize_nutrition_xml",
    "normalize_pets_json",
    "global_percentile_bounds",
    "profile_table",
    "skew_report",
    "correlation_matrix",
    "value_histogram",
    "global_rank",
    "degree_stats",
    "pagerank_exact",
    "cdc_apply",
    "percentile_trim",
    "cluster_balanced_sample",
    "distribution_matched_sample",
    "hash_split",
    "leakage_safe_split",
    "pack_sequences",
    "quota_sample",
    "temperature_mixture_sample",
    "training_shuffle",
    "brute_force_topk",
    "cosine",
    "embedding_near_dup_ids",
    "ivf_topk",
    "salted_join",
    "exact_dedup",
    "incremental_dedup",
    "incremental_minhash_dedup",
    "minhash_dedup",
    "minhash_dedup_keep_best",
    "minhash_lsh_candidates",
    "ngram_jaccard_pairs",
    "remove_duplicate_spans",
    "segment_boilerplate_removal",
    "simhash",
    "simhash_near_pairs",
    "topk_extremes",
]
