"""Relational + text + dedup + similarity operators, DataFrame-native.

Every operator here is a pure function ``DataFrame -> DataFrame`` built
from ``pyspark.sql.functions`` so Catalyst sees one logical plan across
any composition (predicate pushdown, column pruning, join selection,
whole-stage codegen all apply). Pandas-UDF escape hatches are isolated
and clearly marked.
"""

from .text import (
    tokenize,
    clean_tokens,
    value_counts,
    top_mass_fraction,
    top_mass_filter,
    running_sum,
)
from .dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_pairs,
    embedding_cosine_pairs,
    embedding_lsh_pairs,
    connected_components,
    cosine,
)
from .similarity import cosine_topk, ivf_ann_topk, lsh_ann_topk
from .skew import distinct_count_2phase, salted_agg, salted_join
from .textstats import token_stats, quality_score, lang_id, doc_fingerprint
from .multimodal import (
    make_media_table,
    decode_media_meta,
    sample_frames,
)
