"""Benchmark harness: runs the headline catalog queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[N]``, N = ``measure.cpus()``, and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is total wall seconds across the headline set (lower is
better).  Timing, the noop sink, the session and the DuckDB views come
from ``tools/measure.py``: each query is materialized via
``write.format("noop")`` so measured time is plan execution, not
driver-side row transfer.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent / "tools"))

import measure  # noqa: E402

from ena_database_build_spark.plans.catalog import CATALOG  # noqa: E402

HEADLINE = [
    "ena_context_analog",
    "tpch_q1_pricing",
    "tpch_q5_volume",
    "a4_circular_resolution",
    "g1_sessionize",
    "j1_lookup_join",
    "o4_topk",
    "dedup_exact",
    "minhash_signatures",
    "simhash",
    "cosine_topk",
    "lang_id",
    "token_counts",
    "events_sessions",
    # round 2: the end-to-end curation composition (quality gate ->
    # dedup -> split -> stats) — the engine's flagship LLM-pipeline shape
    "corpus_curation",
    # round 2: Gopher-style repetition filter (map-side token stats +
    # relational bigram counts) and the 5-gram eval-decontamination join
    "repetition_stats",
    "decontaminate",
    # round 2: BM25 ranking — one explode + exchange-reused doc_freq
    # join + two window passes on one doc partitioning
    "bm25_top_terms",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # 8 shuffle partitions right-sizes the sf0.1 local run (measured
    # best of {4,8,16}; AQE re-splits skew and coalesces small
    # partitions at real scale, so this constant is not load-bearing on
    # a cluster)
    spark = measure.session("ena-bench", max_shuffle=8)

    # warm the JVM + parquet footers once so per-query numbers measure
    # execution, not first-touch setup
    measure.noop(CATALOG["s3_scan_projection"].spark(spark, sf_dir))

    # steady-state timing: one warm-up run (pays one-time codegen/JIT
    # compilation — amortized to nothing on real corpus sizes), then the
    # MEDIAN of three timed runs — robust to a loaded shared host, where
    # best-of-N understates and mean-of-N overstates.  The DataFrame is
    # built ONCE per query: driver-side plan construction (py4j
    # expression building) is not execution and a real workload declares
    # its plan once too.
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in HEADLINE:
        df = CATALOG[name].spark(spark, sf_dir)
        runs = measure.timed_runs(lambda: measure.noop(df))
        timings[name] = round(runs[1], 3)
        spread[name] = [round(runs[0], 3), round(runs[-1], 3)]

    total = round(sum(timings.values()), 3)
    sf = float(Path(sf_dir).name.replace("sf", "") or 0)

    # Same-session DuckDB oracle totals: the shared host's throughput
    # swings ~40% between measurement windows, so the absolute Spark
    # seconds of two different rounds are not comparable — the
    # Spark/oracle RATIO measured back-to-back in ONE window is.  Same
    # protocol: warm-up run, then median of three.  The oracle side is
    # a yardstick, never a reason to lose the Spark numbers, so a
    # failure is reported on stderr and leaves ``oracle_total`` null.
    oracle_timings: dict[str, float] = {}
    try:
        import duckdb

        con = measure.duck_views(duckdb.connect(), sf_dir)
        for name in HEADLINE:
            sql = CATALOG[name].oracle
            if sql is not None:
                runs = measure.timed_runs(lambda: con.sql(sql).fetchall())
                oracle_timings[name] = round(runs[1], 3)
    except Exception as exc:  # noqa: BLE001 — yardstick only, see above
        print(f"oracle timing failed: {exc!r}", file=sys.stderr)
        oracle_timings = {}
    oracle_total = (
        round(sum(oracle_timings.values()), 3) if oracle_timings else None
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "oracle_queries": oracle_timings,
                "oracle_total": oracle_total,
                "spark_over_oracle_ratio": (
                    round(total / oracle_total, 3) if oracle_total else None
                ),
                "sf": sf,
                "loadavg_1m": round(os.getloadavg()[0], 1),
            }
        )
    )


if __name__ == "__main__":
    main()
