"""Scaling-curve evidence for the two perf-bar rows (r7 verdict #2):
``quantiles_exact`` and ``table_profile``.

Both rows miss their sf0.1 ratio bars for the same structural reason:
their DuckDB oracles are in-process single-machine sweet spots (exact
quantile = buffer-and-quickselect; per-column COUNT(DISTINCT) =
vectorized hash), while the Spark forms pay a fixed multi-stage floor
plus a shuffle whose payload is DISTINCT VALUES, not rows.  The
honest question is how the two walls move with data:

* ``quantiles_exact``: l_extendedprice's distinct set SATURATES
  (~583 k values at sf1 == sf0.1's 570 k), so Spark's shuffle term is
  constant above sf1 and only the scan+partial-agg term (~0.2 s per
  sf1-unit on local[32]) grows — while the oracle buffers every row
  and grows linearly (~0.36 s per sf1-unit).  The curves cross around
  sf5-10.
* ``table_profile``: o_orderkey is unique so BOTH engines' exact
  distinct work grows with rows; Spark's extra cost over the oracle
  is the explode + exchange of the distinct set, a constant factor,
  plus the 3-stage floor that dominates at small sf.

This harness times Spark vs DuckDB over an N-replica corpus of ONLY
the tables the selected rows read (``measure.replicate``: disjoint key
spaces per replica, value columns copied verbatim — the same corpus as
tools/bench_scale.py) at each N, best of 2 after a warm-up on both
engines, and prints one JSON line with the curve.  Run on a quiet host
(check /proc/loadavg first).

Usage: python tools/bench_bars.py [N ...] [--rows a,b,...]
       (default: N = 1 10 30 100; rows = quantiles_exact,table_profile)

Any catalog row with a DuckDB oracle can be curved with --rows; the
corpus contains only the tables the selected rows read.  Round 9 added
``approx_quantiles`` (r8 verdict #4: its measured form bakes a full
true-rank verification scan into the timed path — the curve pins that
two-scan floor against the quickselect oracle).  Round 10 widens the
table set for the r9 perf-weak rows: ``ena_context_analog``,
``tpch_q7_nation_volume``, ``span_dedup``, ``supplier_triangles``.
NOTE on span_dedup: a replicated documents corpus makes every 8-gram
appear in N exact-copy documents, so dup density saturates at ~100% —
both engines run the identical degenerate workload, which stresses the
duplicated-gram semi-join and cover-window stages hardest; treat the
curve as the upper-bound (worst-case) floor, not a typical-corpus
ratio.
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

import measure  # noqa: E402

from ena_database_build_spark.plans.catalog import CATALOG, TABLES  # noqa: E402

ROWS = ("quantiles_exact", "table_profile")


def main() -> None:
    argv = sys.argv[1:]
    rows = list(ROWS)
    if "--rows" in argv:
        i = argv.index("--rows")
        if i + 1 >= len(argv):
            raise SystemExit("--rows takes a comma-separated name list")
        rows = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2:]
        unknown = [r for r in rows if r not in CATALOG]
        if unknown:
            raise SystemExit(f"unknown row(s): {unknown}")
    ns = [int(a) for a in argv] or [1, 10, 30, 100]
    # the corpus contains ONLY the tables the selected rows read
    # (writing unused 100-replica tables wastes minutes), found by
    # scanning each oracle for table references (engine and oracle
    # read the same tables by construction)
    needed: set[str] = set()
    for r in rows:
        sql = CATALOG[r].oracle
        if not sql:
            raise SystemExit(f"row {r!r} has no oracle to curve against")
        needed |= {t for t in TABLES if re.search(rf"\b{t}\b", sql)}
    spark = measure.session("ena-bench-bars")

    curve: dict[str, dict] = {name: {} for name in rows}
    for n in ns:
        out_dir = f"/tmp/spark_graft_bars_{n}"
        measure.replicate(out_dir, n, needed)
        con = measure.duck_views(duckdb.connect(), out_dir)
        for name in rows:
            df = CATALOG[name].spark(spark, out_dir)
            s = round(measure.timed_runs(lambda: measure.noop(df), 2)[0], 3)
            sql = CATALOG[name].oracle
            d = round(measure.timed_runs(lambda: con.sql(sql).arrow(), 2)[0], 3)
            curve[name][f"x{n}"] = {
                "spark_s": s,
                "duck_s": d,
                "ratio": round(s / d, 2) if d else None,
            }
        con.close()
    print(
        json.dumps(
            {
                "metric": "bar_rows_scaling_curve",
                "replicas_of_sf0.1": ns,
                "curve": curve,
                "loadavg_1m": round(os.getloadavg()[0], 1),
            }
        )
    )


if __name__ == "__main__":
    main()
