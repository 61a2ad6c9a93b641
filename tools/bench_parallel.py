"""Parallelism-scaling curve for a catalog row (r8 verdict #3: back
the "the exact-distinct exchange is the thing that scales OUT" claim
with a measurement instead of an argument).

For each core count, a FRESH Spark session (own JVM, local[N],
shuffle_partitions=N unless ``$SPARK_GRAFT_SHUFFLE`` is set) times
the row over the same replica corpus (tools/bench_bars.py layout), and
DuckDB times the oracle once for reference.  If the engine wall
SHRINKS with cores while the oracle's single-process wall is fixed,
the row's asymptotic ratio on one box is a parallelism budget, not a
plan defect — on a real cluster the same plan keeps scaling where the
in-process oracle has already stopped.

Each core count runs in a SUBPROCESS so the JVM/thread-pool size is
genuinely N (a resized SparkContext in-process would inherit warmed
pools and lie).  Each child times the row best of 2 after a warm-up,
building a fresh plan per run; the oracle's time is one run after a
warm-up.  Timing, session and DuckDB views come from ``measure``.

Usage: python tools/bench_parallel.py <row> <data_dir> [cpus ...]
       (default cpus: 4 8 16 32)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import measure  # noqa: E402

_CHILD = """
import sys
sys.path.insert(0, {tools!r})
import measure
from ena_database_build_spark.plans.catalog import CATALOG
spark = measure.session("bench-parallel", {n})
runs = measure.timed_runs(
    lambda: measure.noop(CATALOG[{row!r}].spark(spark, {data!r})), 2
)
print("WALL", runs[0])
"""


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    row, data = sys.argv[1], sys.argv[2]
    cpus = [int(a) for a in sys.argv[3:]] or [4, 8, 16, 32]
    tools = str(Path(__file__).resolve().parent)

    curve = {}
    for n in cpus:
        code = _CHILD.format(tools=tools, n=n, row=row, data=data)
        out = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, check=True,
        ).stdout
        wall = float(next(
            line.split()[1] for line in out.splitlines()
            if line.startswith("WALL")
        ))
        curve[f"local[{n}]"] = round(wall, 3)

    import duckdb

    from ena_database_build_spark.plans.catalog import CATALOG

    con = measure.duck_views(duckdb.connect(), data)
    sql = CATALOG[row].oracle
    duck = round(measure.timed_runs(lambda: con.sql(sql).arrow(), 1)[0], 3)

    print(json.dumps({
        "metric": "parallelism_scaling_curve",
        "row": row,
        "data": data,
        "spark_wall_by_cores": curve,
        "duck_s": duck,
        "loadavg_1m": round(os.getloadavg()[0], 1),
    }))


if __name__ == "__main__":
    main()
