"""Custom operators the reference family has (or its pipelines need)
that Spark lacks as single built-ins — each composed from DataFrame
ops (no RDDs, no row-at-a-time Python), per SURVEY.md §2.3/§2.12.
"""

from .asof import merge_asof
from .dedup import (
    connected_components,
    exact_dedup,
    minhash_sig_pairs,
    near_dedup_minhash_sig,
)
from .multimodal import (
    attach_payload,
    dedup_payloads,
    extract_features,
    resample_signal,
    sample_frames,
)
from .ranking import global_ntile, global_row_number
from .similarity import centroids, cosine_topk, ivf_topk, lsh_bucket_topk
from .skew import (
    salted_collect,
    salted_count_distinct,
    salted_join,
    salted_sum,
    with_salt,
)

__all__ = [
    "merge_asof",
    "exact_dedup",
    "minhash_sig_pairs",
    "near_dedup_minhash_sig",
    "connected_components",
    "attach_payload",
    "sample_frames",
    "extract_features",
    "resample_signal",
    "dedup_payloads",
    "cosine_topk",
    "lsh_bucket_topk",
    "ivf_topk",
    "centroids",
    "global_row_number",
    "global_ntile",
    "salted_sum",
    "salted_join",
    "salted_collect",
    "salted_count_distinct",
    "with_salt",
]
