"""Distributed operators of the rollup + DTW analytics engine."""

from .rollup import (rollup_turns, cascade, assemble_series, TIERS,
                     apply_retention, quantile_rollup)
from .gapfill import gapfill
from .compression import compress_chunks, decompress_chunks, gorilla_encode, gorilla_decode
from .dtw_ops import (dtw_pairs, drift_scores, dtwnn_search, knn_topk,
                      distance_profile_op, matrix_profile_op, align_to_master)
from .dba_ops import dba_per_group, dbaclust_distributed
from .dedup import (exact_dedup, minhash_dedup, simhash_signatures,
                    ngram_jaccard_pairs, embedding_neardup,
                    connected_components, near_dedup_docs, simhash_neardup)
from .similarity import cosine_topk, lsh_cosine_topk, ivf_cosine_topk
from .text import token_stats, quality_score, language_id, fingerprint
from .topk import topk_per_key
from .multimodal import (attach_media_metadata, image_features, frame_sample,
                         MEDIA_SCHEMA)
from .multimodal import audio_features, decode_bmp, encode_bmp, decode_wav, \
    encode_wav
from .sessionize import sessionize_events
from .asof import asof_join
from .rolling import rolling_stats
from .downsample import lttb_downsample, ewma_smooth

__all__ = [
    "rollup_turns", "cascade", "assemble_series", "TIERS", "gapfill",
    "apply_retention", "quantile_rollup",
    "compress_chunks", "decompress_chunks", "gorilla_encode", "gorilla_decode",
    "dtw_pairs", "drift_scores", "dtwnn_search", "knn_topk",
    "distance_profile_op", "matrix_profile_op", "align_to_master",
    "dba_per_group", "dbaclust_distributed",
    "exact_dedup", "minhash_dedup", "simhash_signatures", "ngram_jaccard_pairs",
    "embedding_neardup", "connected_components", "near_dedup_docs",
    "simhash_neardup",
    "cosine_topk", "lsh_cosine_topk", "ivf_cosine_topk",
    "token_stats", "quality_score", "language_id", "fingerprint",
    "topk_per_key",
    "attach_media_metadata", "image_features", "frame_sample", "MEDIA_SCHEMA",
    "audio_features", "decode_bmp", "encode_bmp", "decode_wav", "encode_wav",
    "sessionize_events",
    "asof_join", "rolling_stats", "lttb_downsample", "ewma_smooth",
]
