"""Large-scale training-data pipeline operators.

Beyond the reference's SQL surface: the operations a 100 TB
training-data pipeline needs, built Spark-first (JVM expressions for
everything hashable/aggregatable; Arrow-batched pandas UDFs only for
the genuinely imperative parts like multimodal decode).
"""

from octosql_spark.datapipe.dedup import (  # noqa: F401
    exact_dedup, minhash_signatures, minhash_lsh_pairs, simhash,
    simhash_near_dup_pairs, ngram_jaccard_pairs, embedding_near_dup_pairs,
    duplicated_spans, remove_duplicated_spans, remove_duplicated_lines,
    minhash_ingest_near_dups,
    embedding_ingest_near_dups, edit_distance_pairs,
)
from octosql_spark.datapipe.similarity import (  # noqa: F401
    cosine_topk_bruteforce, lsh_bucketed_topk, embedding_norms,
    ivf_topk, pq_topk, build_ivf_index, ivf_index_topk,
    build_pq_index, pq_index_topk,
)
from octosql_spark.datapipe.text import (  # noqa: F401
    token_count, quality_metrics, language_id, fingerprint,
    redact_pii, tf_idf_top_terms, unigram_logprob, bigram_logprob,
    perplexity_buckets, bm25_scores,
    hashed_linear_score, char_entropy, dsir_importance, dsir_select,
    heavy_hitters, winnowing_fingerprints, winnowing_overlap_pairs,
    cap_per_key, url_domain, url_normalize, html_extract_text,
)
from octosql_spark.datapipe.cluster import (  # noqa: F401
    connected_components, dedup_clusters, semantic_dedup,
    cluster_representatives, cluster_ingest_components,
    build_semantic_index, read_semantic_labels, semantic_ingest,
)
from octosql_spark.datapipe.curate import (  # noqa: F401
    decontaminate, decontaminate_prefilter, semantic_decontaminate,
    sample_stratified,
    sample_hash_bucket, pack_sequences, pack_bins_bfd,
    repetition_metrics, mixture_sample, shard_shuffle, chunk_documents,
    budget_select, weighted_sample_wor,
    length_buckets, assign_splits,
)
from octosql_spark.datapipe.sketch import (  # noqa: F401
    quantile_rollup_summary, quantile_rollup_estimate,
)
from octosql_spark.datapipe.multimodal import (  # noqa: F401
    attach_media_metadata, decode_media, resize_media,
    extract_features,
)
