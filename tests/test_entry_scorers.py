"""Oracle guard for the shared per-bucket kernels: every registry entry
whose query runs through the BM25 kernel (match family, bool, search_after,
function_score, dis_max, synonyms, fuzzy, batch, multi-field, prefix,
suggest_phrase's collate), through the filter-context count kernel
(aggs.ids_with_counts and ids_for_hashes over it: wildcard, regexp,
terms_set, count, match_bool_prefix) or reads positions through the shared
positional decode (phrase, sloppy phrase, phrase batch / prefix, rescore,
simple_query_string, highlight, span_near, intervals, term vectors) must
agree with its DuckDB oracle SQL, compared the way scripts/check_entry.py
compares them (row count, column names, order-insensitive value hash).
The three entries that never had a driver CORRECTNESS row are checked here
too: bm25_fuzzy_gram, agg_significant_text (JLH significance re-analyzed
from the top-100-by-BM25 sample) and suggest_spell_gram (the term
suggester through the q-gram dictionary sidecar)."""

import importlib.util
from pathlib import Path

import pytest

_spec = importlib.util.spec_from_file_location(
    "check_entry", Path(__file__).resolve().parent.parent / "scripts" / "check_entry.py"
)
check_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_entry)

ENTRIES = [
    "bm25_topk",
    "bm25_topk_hot",
    "bm25_topk_rare",
    "bm25_match_and",
    "bm25_match_msm",
    "bm25_bool",
    "bm25_search_after",
    "bm25_function_score",
    "bm25_dismax",
    "bm25_synonyms",
    "bm25_fuzzy",
    "bm25_fuzzy_gram",
    "bm25_topk_batch",
    "bm25_most_fields",
    "bm25_cross_fields",
    "bm25_prefix",
    "bm25_phrase",
    "bm25_phrase_slop",
    "bm25_phrase_batch",
    "bm25_phrase_prefix",
    "bm25_rescore",
    "bm25_sqs",
    "bm25_highlight",
    "span_near_ordered",
    "span_near_unordered",
    "intervals_all_of",
    "intervals_all_of_unordered",
    "intervals_filtered",
    "intervals_any_of",
    "term_vectors_read",
    "suggest_phrase",
    "wildcard_match",
    "regexp_match",
    "terms_set_match",
    "count_matches",
    "bm25_match_bool_prefix",
    "agg_significant_text",
    "suggest_spell_gram",
]


@pytest.mark.parametrize("name", ENTRIES)
def test_entry_matches_oracle(spark, sf_dir, name):
    assert name in check_entry.entrymod.oracle_sql()  # compared, not rows-only
    assert check_entry.check(spark, sf_dir, [name]) == []
