"""The ``__spark_entry__`` contract pinned, Spark-free: the text of every
``oracle_sql()`` query and the names and order of ``queries()``. Several
oracle strings are built by package code (random-walk SQL templates, the
PII mirror, the CTC oracle), so a change there that alters an oracle
string fails here."""

import hashlib
import json

from tests.oracle_harness import load_entry

ORACLE_SHA256 = \
    "1db04ce1d794e9345c4ecbaa33ce97b3d4a0bd6b577f0e6f25cf1842f8c9ac5f"
QUERY_KEYS = [
    "vocab_mapping", "vocab_pruned", "boilerplate", "tag_vocab",
    "entity_rank", "decontam", "asof_join", "range_join", "crawl_delta",
    "salted_join", "sessionize", "domain_cap", "doc_consistency",
    "exact_dedup", "doc_chunks", "pack_docs", "temperature_sample",
    "substring_dedup", "link_graph", "quality", "gopher_rules", "lm_score",
    "fuzzy_link", "tpch_q1", "tpch_q5ish", "tpch_q3ish", "cm_freq",
    "triangles", "tpch_q16ish", "bfs_dist", "tpch_q4ish", "tpch_q7ish",
    "tpch_q9ish", "tpch_q22ish", "hll_tokens", "conll_chunk_agg",
    "simhash_pairs", "sssp", "bloom_prune", "embedding_near_dup",
    "ivf_search", "robots_filter", "ctc_predict", "components",
    "multimodal_values", "kg_bgp", "kg_triples_documents",
    "curation_report", "kg_triples", "streaming_triples",
]


def test_oracle_sql_text_is_pinned():
    oracle = load_entry().oracle_sql()
    assert len(oracle) == 107
    digest = hashlib.sha256(
        json.dumps(oracle, sort_keys=True).encode()).hexdigest()
    assert digest == ORACLE_SHA256


def test_query_keys_are_pinned():
    assert list(load_entry().queries()) == QUERY_KEYS
