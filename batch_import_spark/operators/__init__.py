from batch_import_spark.operators.ids import stable_id, with_dense_id  # noqa: F401
from batch_import_spark.operators.edges import normalize_edges  # noqa: F401
from batch_import_spark.operators.linking import build_unique_alias_dict  # noqa: F401
from batch_import_spark.operators.canonicalize import connected_components  # noqa: F401
from batch_import_spark.operators.asof import asof_join  # noqa: F401
from batch_import_spark.operators.ranges import range_join  # noqa: F401
from batch_import_spark.operators.sketches import kmv_distinct, portable_hash60  # noqa: F401
from batch_import_spark.operators.evaluate import evaluate_triples  # noqa: F401
from batch_import_spark.operators.dedup import (  # noqa: F401
    exact_dedup,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from batch_import_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    embedding_near_duplicates,
    ivf_ann_topk,
    lsh_ann_topk,
)
from batch_import_spark.operators.buckets import cap_hot_buckets  # noqa: F401
from batch_import_spark.operators.dedup import near_dup_resolution  # noqa: F401
from batch_import_spark.operators.graph_stats import triangle_counts, undirected_edges  # noqa: F401
from batch_import_spark.operators.bucketing import bucketed_join, write_bucketed  # noqa: F401
from batch_import_spark.operators.sampling import (  # noqa: F401
    hash_sample,
    mixture_sample,
    stratified_sample_k,
)
from batch_import_spark.operators.fulltext import (  # noqa: F401
    build_fulltext_postings,
    fulltext_lookup,
    tfidf_top_terms,
)
from batch_import_spark.operators.graph_stats import (  # noqa: F401
    bfs_distances,
    kcore,
    label_propagation,
    pagerank,
)
from batch_import_spark.operators.packing import (  # noqa: F401
    chunk_documents,
    pack_sequences,
    token_count,
)
from batch_import_spark.operators.contamination import ngram_contamination  # noqa: F401
from batch_import_spark.operators.conversations import (  # noqa: F401
    assemble_context,
    conversation_stats,
    sessionize,
    tool_transitions,
)
from batch_import_spark.operators.fuzzy import deletion_variants, fuzzy_join_ed1  # noqa: F401
from batch_import_spark.operators.sketches import hll_sketch  # noqa: F401
from batch_import_spark.operators.graph_stats import pagerank_weighted  # noqa: F401
from batch_import_spark.operators.skew import salted_join  # noqa: F401
from batch_import_spark.operators.cooccur import cooccurrence_lift  # noqa: F401
from batch_import_spark.operators.layout import (  # noqa: F401
    read_time_range,
    write_time_partitioned,
)
from batch_import_spark.operators.contamination import containment_pairs  # noqa: F401
