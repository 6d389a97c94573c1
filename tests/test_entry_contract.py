"""Driver-contract smoke: entry() + queries()/oracle_sql() consistency.

The full oracle cross-check runs via scripts/check_oracles.py (and in
CI-equivalent form by the driver at sf0.01); here we verify the
contract shape and the flagship result cheaply at sf0.001.
"""

import hashlib

import duckdb
import pytest

import __spark_entry__ as entry_mod
from scripts.check_oracles import TABLES, compare

SF = "/root/testdata/sf0.001"

# sha256 of repr(sorted(oracle_sql().items())) and the sorted query
# names, both as they stood before the queries moved out of the entry
# file into batch_import_spark/queries/
ORACLE_DIGEST = "eb9c2d7520b4c9714fda4e1373d656ffbdf7c490d799bbaa163e9e1cbf9f8533"
QUERY_NAMES = """
a2_dense_ids a4_index_explode a4_rel_index adjacency_lists ann_cosine_topk
asof_last_click batch_sessions bfs_hops bloom_membership bloom_registers
bpe_packed_batches bpe_tokenize bpe_train bpe_vocab cc_components cdc_chunks
cluster_balanced_sample cms_heavy_hitters communities contamination context_assembly
context_token_budget conv_stats cooccurrence_lift corpus_curation corpus_mixture
corpus_sample crossdoc_substring_removal cube_counts curriculum_order dedup_exact
dedup_groups dedup_incremental doc_chunks domain_filter dsir_select embed_near_dups
entity_resolution extract_regex feature_minmax_norm fulltext_lookup fuzzy_name_match
g1_counts grouped_quantiles hard_negatives hll_distinct_users interval_coverage
ivf_ann_topk ivf_pq_incremental ivf_pq_topk j1_index_lookup j1_unique_key_rule kcore
kg_bfs_hops kg_communities_louvain kg_degree_stats kg_edge_provenance
kg_extract_canonicalize kg_incremental kg_kcore kg_link_prediction
kg_negative_samples kg_pagerank kg_pipeline_full kg_precision_recall
kg_temporal_activity kmeans_clusters kmv_distinct_users lang_id lm_bigram_score
lsh_ann_topk mad_outliers media_decode_jpeg media_decode_png media_decode_wav
minhash_near_dups modularity multimodal_features near_dup_resolution ngram_jaccard
o2_edge_normalize p1_typed_cast p2_null_projection p4_label_split pagerank
personalized_pagerank pii_redact pivot_counts pq_code_dedup pq_recall_audit
q1_pricing_summary q3_revenue_topk q5_local_supplier_volume q6_forecast_revenue
quality_gate quantile_sketch quote_containment range_window_join repetition_screen
repetition_screen_para rolling_fingerprint rollup_counts salted_join_counts
semantic_dedup seq_packing seq_packing_global set_ops sft_pairs simhash_near_dups
sliding_window_counts spatial_bbox_lookup split_leakage_audit stratified_sample
stream_ann_incremental stream_dedup stream_dsir_screen stream_interval_join
stream_kg_incremental stream_kg_windowed stream_quality_screen stream_sessions
temperature_mixture text_fingerprint text_quality tfidf_terms theta_set_ops
time_decay_scores time_rollup tokenizer_fertility tool_transitions topk_per_group
triangle_counts unigram_tokenize unigram_vocab unimax_budget value_histogram
vocab_growth w1_window_running weighted_pagerank winnowing_sketch wordpiece_tokenize
wordpiece_vocab zorder_layout
""".split()


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"subj", "pred", "obj", "n"}


def test_every_oracle_has_a_query():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25


def test_contract_is_byte_stable():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    digest = hashlib.sha256(repr(sorted(oracles.items())).encode()).hexdigest()
    assert digest == ORACLE_DIGEST
    assert sorted(qs) == QUERY_NAMES
    assert set(qs) == set(oracles)


@pytest.mark.parametrize("name", ["kg_extract_canonicalize", "cc_components", "j1_index_lookup"])
def test_key_oracles_match_at_sf0001(spark, name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    df = entry_mod.queries()[name](spark, SF)
    res = con.execute(entry_mod.oracle_sql()[name])
    rows, cols = res.fetchall(), [d[0] for d in res.description]
    assert compare(name, df, rows, cols) == []
