"""Scale-up differential bench: Spark vs the DuckDB oracle at sf1.

The per-round gate (bench.py) runs at sf0.1, where Spark's fixed
per-stage overhead (~0.1-0.3 s/job on local[32]) dominates and skews
the ratio against Spark.  This harness builds a 10x corpus (~sf1,
6 M lineitem rows) by replicating sf0.1 with disjoint key offsets and
times BOTH engines on the same headline queries — the scale where
engine throughput, not stage latency, decides the ratio.

The corpus comes from ``measure.replicate`` with per-replica document
text, so exact/near-dedup keeps sf0.1's duplicate structure.  It is
MULTI-FILE parquet (one file per replica), so Spark's scans parallelize
the way production inputs do; the catalog's single-split ``spread``
compensator stays dormant (dir, not file).  Each engine's time per
query is the best of 2 after a warm-up.

Usage:  python tools/bench_scale.py [replicas] [out_dir]
Prints one JSON line mirroring bench.py's shape, plus DuckDB timings.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

import measure  # noqa: E402

from ena_database_build_spark.plans.catalog import CATALOG  # noqa: E402

from bench import HEADLINE  # noqa: E402  — one source of truth

# round-2 operators measured at scale here WITHOUT widening bench.py's
# headline (keeping the per-round BENCH totals comparable round-over-
# round); both engines run every query
SCALE_EXTRAS = [
    "doc_chunks",
    "corpus_shuffle",
    "dedup_incremental",
    "quality_gate",
    "purchase_attribution",
    "events_pivot",
    "props_extract",
    "tpch_q4_priority",
    "tpch_q18_large_orders",
    # round 3: streaming anchors + the bucketed sweep line
    "stream_totals",
    "stream_dedup",
    "transit_sweepline",
    # round 3 (mid-round additions): frequency/layout/graph/dimension
    # operators.  semantic_dedup is deliberately absent: its catalog
    # constant k=8 is sized for the sf0.01 correctness fixture, and
    # SemDeDup's contract is k ~ sqrt(n) — at sf1 a fixed k would make
    # the within-cluster pair join quadratic in cluster size.
    "heavy_hitters",
    "scd2_user_state",
    "pagerank_suppliers",
    "zorder_values",
    "embedding_project",
    "embedding_meanpool",
    "table_profile",
    "source_cap",
    "snapshot_diff",
    # round 3 (continuation): sketch/BPE/incremental/DQ/funnel/layout
    # surface + the relational breadth additions.
    # near_dedup_incremental is deliberately absent for the same class
    # of reason as semantic_dedup: the replica generator gives EVERY
    # document 9 near-identical (not exact) variants, so the whole
    # corpus is one dense near-dup mesh — ~225k verified pairs x ~1k
    # shared shingles each in the exact-Jaccard verify join, a
    # pathological density (real corpora: low-percent near-dup rates)
    # that benchmarks the fixture, not the operator.
    "bloom_decontaminate",
    "bpe_pair_counts",
    "bpe_merges",
    "incremental_stats",
    "orc_roundtrip",
    "stream_enrichment",
    "dq_report",
    "asof_join_bucketed",
    "hash_sample_weighted",
    "tpch_q7_nation_volume",
    "tpch_q13_order_distribution",
    "user_retention",
    "compaction_plan",
    "funnel_conversion",
    "replica_diff",
    "line_dedup",
    "span_corruption",
    "batch_cosine_topk",
    "activity_streaks",
    "event_transitions",
    "scd2_enrichment",
    "rolling_user_value",
    "skew_salted_join",
    "bpe_compression",
    "weighted_sample_n",
    "contrastive_triples",
    "supervised_pairs",
    "winsorize_counts",
    "cube_revenue",
    "time_to_convert",
    "cms_frequencies",
    "kmv_distinct",
    # round 4: span-level dedup, drift monitoring, temperature
    # sampling, transcript assembly, perceptual hashing, per-dim
    # standardization.  near_dedup_keep_longest is deliberately absent
    # for the same replica-mesh reason as near_dedup_incremental (the
    # generator makes every doc a 10-way near-dup cluster).
    "span_dedup",
    "psi_drift",
    "temperature_sampling",
    "sft_transcripts",
    "phash_buckets",
    "embedding_standardize",
    "merge_upserts",
    "rate_anomalies",
    "stream_rate_flags",
    "grouped_split",
    "customer_set_ops",
    "tokenizer_fertility",
    "bigram_logprob",
    "quantile_normalize",
]
SCALE_QUERIES = HEADLINE + SCALE_EXTRAS


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_sf1"
    measure.replicate(out_dir, replicas, vary_text=True)
    spark = measure.session("ena-bench-sf1")

    spark_t: dict[str, float] = {}
    for name in SCALE_QUERIES:
        df = CATALOG[name].spark(spark, out_dir)
        spark_t[name] = round(
            measure.timed_runs(lambda: measure.noop(df), 2)[0], 3
        )

    con = measure.duck_views(duckdb.connect(), out_dir)
    # .arrow() fully materializes the result vectorized — comparable to
    # Spark's noop sink (full compute, no row-at-a-time driver transfer)
    duck_t: dict[str, float] = {}
    for name in SCALE_QUERIES:
        sql = CATALOG[name].oracle
        duck_t[name] = round(
            measure.timed_runs(lambda: con.sql(sql).arrow(), 2)[0], 3
        )

    total_s = round(sum(spark_t.values()), 3)
    total_d = round(sum(duck_t.values()), 3)
    print(
        json.dumps(
            {
                "metric": "sf1_headline_total_wall",
                "value": total_s,
                "unit": "sec",
                "queries": spark_t,
                "duckdb_sec": total_d,
                "duckdb_queries": duck_t,
                "ratio": round(total_s / total_d, 2) if total_d else None,
                "replicas": replicas,
                "sf": 1.0,
                "loadavg_1m": round(os.getloadavg()[0], 1),
            }
        )
    )


if __name__ == "__main__":
    main()
