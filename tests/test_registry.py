"""Invariants of the query registry in __spark_entry__.py (no Spark session)."""
from __future__ import annotations

import __spark_entry__ as e

ROWS_ONLY = {
    "flagship_extract",
    "full_pipeline",
    "boilerplate_strip",
    "pdf_layout",
    "t9_preprocess",
    "bpe_token_counts",
    "a12_approx_distinct",
    "bpe_train_merges",
    "kmeans_cells",
    "media_audio_features",
    "media_image_features",
}


def test_gate_has_fifty_names():
    assert len(e.queries()) == 50


def test_names_are_unique():
    names = [name for name, _, _, _ in e.registry()]
    assert len(names) == len(set(names))


def test_gate_and_extras_are_disjoint():
    assert not set(e.queries()) & set(e.extra_queries())
    assert not set(e.oracle_sql()) & set(e.extra_oracle_sql())


def test_tags_belong_to_the_fixed_set():
    for name, _, _, tags in e.registry():
        assert tags <= e.TAGS, (name, tags - e.TAGS)


def test_oracle_less_rows_are_the_declared_rows_only_queries():
    assert {name for name, _, sql, _ in e.registry() if sql is None} == ROWS_ONLY
    oracles = {**e.oracle_sql(), **e.extra_oracle_sql()}
    assert set(oracles) == {name for name, _, _, _ in e.registry()} - ROWS_ONLY


def test_edit_near_dup_is_not_swept_at_sf1():
    assert "edit_near_dup" not in e.names("sf1")
    assert "edit_near_dup" not in e.names("sf1_heavy")


def test_bench_runs_the_flagship_first():
    assert e.names("bench")[0] == "flagship_extract"
