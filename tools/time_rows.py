"""Isolated noop-sink timing for individual catalog rows.

Usage: python tools/time_rows.py <sf_dir> <name> [name ...]
       [--reps N | --reps=N]

Median of N (default 3) timed noop saves after one warm-up, one
Spark session for the whole run — bench.py's protocol, through the same
``measure`` core, usable for any catalog row while optimizing.
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import measure  # noqa: E402

from ena_database_build_spark.plans.catalog import CATALOG  # noqa: E402


def main() -> None:
    # both --reps N and --reps=N (round-13 ADVICE #1: the
    # space-separated form left N in the names list and bare --reps
    # raised IndexError)
    args: list[str] = []
    reps = 3
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--reps":
            if i + 1 >= len(argv):
                raise SystemExit("--reps takes a count")
            reps = int(argv[i + 1])
            i += 2
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
            i += 1
        elif a.startswith("--"):
            raise SystemExit(f"unknown option {a!r}")
        else:
            args.append(a)
            i += 1
    sf_dir, names = args[0], args[1:]
    spark = measure.session("time-rows", max_shuffle=8)
    for name in names:
        spark.sparkContext.setJobDescription(name)
        df = CATALOG[name].spark(spark, sf_dir)
        runs = measure.timed_runs(lambda: measure.noop(df), reps)
        med = statistics.median(runs)
        print(
            f"{name:34s} med {med:7.3f}s  "
            f"[{runs[0]:.3f}, {runs[-1]:.3f}] n={reps}"
        )


if __name__ == "__main__":
    main()
