"""Regression gate for the driver contract (__spark_entry__): entry()
smoke, a representative queries()/oracle_sql() sample compared via
DuckDB at sf0.001, and interface invariants (every oracle key has a
query; column names align)."""

import hashlib

import duckdb
import pytest

import __spark_entry__ as entry_mod
from conftest import SF_DIR

SAMPLE = [
    "a4_circular_resolution",
    "g1_sessionize",
    "j3_fallback_coalesce",
    "minhash_signatures",
    "rolling_fingerprints",
    "events_sessions",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _vhash(df):
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.schema == entry_mod.entry(spark).schema


def test_oracle_keys_subset_of_queries():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_oracle(spark, duck, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    s = _canon(qs[name](spark, SF_DIR).toPandas())
    o = _canon(duck.sql(oracles[name]).df())
    assert list(s.columns) == list(o.columns), name
    assert len(s) == len(o), name
    assert _vhash(s) == _vhash(o), name


def test_check_window_ordering_pinned():
    """The driver grades the FIRST 50 registry entries; this pins the
    round-14 check window (the 33 remaining r10-window rows + the first
    17 r11-window rows, `s3_scan_projection` first — see the registry
    header ledger) so a refactor cannot silently reorder the dict and
    destroy the graded window.  UPDATE THIS LIST ONLY when a rotation
    is deliberately applied (the one-shot tools/rotate_catalog_r14.py
    --apply; git history keeps the removed script)."""
    from ena_database_build_spark.plans.catalog import CATALOG

    expected = [
        "s3_scan_projection", "f1_division_filter", "f2_prefix_filter",
        "f3_fungi_gate", "f4_whitelist_deadletter",
        "f5_malformed_id_drop", "f7_unparseable_cds_drop",
        "p1_regex_extract", "p2_alternation_extract", "p3_range_extract",
        "p7_location_normalizer", "p8_strand_detector",
        "p9_path_components", "g1_sessionize", "dsir_weights",
        "g2_nested_sessionize", "g3_final_flush", "g4_ordinals",
        "a1_collect_set", "a2_record_set_union", "a3_flat_minmax",
        "a4_circular_resolution", "j1_lookup_join", "j2_anti_join",
        "j3_fallback_coalesce", "o1_explode", "o2_seven_col_projection",
        "o3_union", "o4_topk", "o5_stable_range_sort",
        "s5_tsv_roundtrip", "ena_context_analog", "tpch_q1_pricing",
        "lsh_candidate_pairs_prod", "tpch_q3_shipping", "tpch_q5_volume",
        "dedup_exact", "minhash_signatures", "lsh_candidate_pairs",
        "simhash", "jaccard_pairs", "dedup_clusters", "asof_join",
        "range_join_transit", "transit_sweepline", "rollup_revenue",
        "order_analytics", "quantiles_exact", "approx_quantiles",
        "kmeans_clusters",
    ]
    assert list(CATALOG)[:50] == expected
