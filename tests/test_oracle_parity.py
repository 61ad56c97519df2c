"""Every queries() entry hash-matches its DuckDB oracle at sf0.01 —
a local replica of the driver's t2 correctness gate."""

from __future__ import annotations

import inspect

import pytest

import __spark_entry__ as entry_mod
from tests.compare import compare_query, duckdb_connect
from tests.conftest import SF_ORACLE, SF_SMALL


@pytest.fixture(scope="module")
def con():
    con = duckdb_connect(SF_ORACLE)
    yield con
    con.close()


#: The only parameters a registered query takes beyond (spark, sf_dir):
#: seams that tests set.  Every other setting is a constant in the body,
#: because each oracle inlines the same value.
_TEST_SEAMS = {
    "dedup_embedding_cosine": {"threshold", "max_vectors"},
    "dedup_exact_substring": {"window"},
    "dedup_kcore_peel": {"rounds"},
    "dedup_link_prediction": {"k", "degree_cap"},
    "dedup_semdedup": {"row_block"},
    "dedup_simhash_pairs": {"max_nibble_distance"},
    "dedup_tfidf_cosine": {"docs"},
    "orders_hill_tail_index": {"k"},
    "sample_kcenter_coreset": {"k"},
    "sample_token_budget_mix": {"tokens_per_lang"},
    "similarity_ann_lsh": {"k"},
    "similarity_range_search": {"threshold", "k", "emb"},
    "stream_full_outer_interval_join": {"glob"},
    "stream_inactivity_sessions": {"glob", "max_files_per_trigger"},
    "stream_left_outer_interval_join": {"glob", "max_files_per_trigger"},
    "stream_state_inspect": {"glob"},
    "stream_stream_interval_join": {"glob", "max_files_per_trigger", "watermark"},
    "stream_two_level_window": {"glob", "max_files_per_trigger"},
    "stream_upsert_latest": {"glob", "max_files_per_trigger"},
    "text_bpe_word_merges": {"iters"},
}


def test_registry_is_one_ordered_map():
    """queries() and oracle_sql() share one key order, led by the 50-entry
    certification window, and every key names the function it runs.  A
    registered function takes (spark, sf_dir) plus only its test seams."""
    q = entry_mod.queries()
    assert list(q) == list(entry_mod.oracle_sql())
    assert list(q)[:50] == entry_mod._R16_WINDOW
    for name, fn in q.items():
        assert fn.__name__ == name
    for name, fn in entry_mod._FUNCS.items():
        extra = set(list(inspect.signature(fn).parameters)[2:])
        assert extra <= _TEST_SEAMS.get(name, set()), (name, extra)


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql()))
def test_query_matches_oracle(spark, con, name):
    df = entry_mod.queries()[name](spark, SF_ORACLE)
    compare_query(df, con, entry_mod.oracle_sql()[name])


def test_events_runs_test_matches_oracle_at_small_scale(spark):
    """At sf0.001 some event types have a one-sided or one-hour series
    (n_above == 0, n_below == 0 or n_above + n_below <= 1); their z-score
    is NULL in both engines rather than an ANSI DIVIDE_BY_ZERO."""
    con = duckdb_connect(SF_SMALL)
    try:
        df = entry_mod.queries()["events_runs_test"](spark, SF_SMALL)
        compare_query(df, con, entry_mod.oracle_sql()["events_runs_test"])
    finally:
        con.close()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) >= 2
