"""Hot-user sessionization differential: native ``session_window``
vs the two-phase bucketed twin on a deliberately skewed corpus.

``session_window().groupBy(user_id)`` hash-partitions by user, so one
hot user's whole stream lands in ONE task — the straggler shape the
round-9 skew corpus models (50% of events on one key).  This harness
generates N events with half assigned to user 0 (timestamps spread
over ~a month so sessions are plentiful), and times:

  * session_aggregates            (native, straggler-bound)
  * session_aggregates_bucketed   (phase 1 spreads the hot user
                                   across time buckets; phase 2 merges
                                   boundary fragments per user)

Full-row parity (an order-insensitive xxhash64 digest over every
output column, plus count and event-total) is asserted on every run
before timing is reported — a fast wrong answer is not a result, and
aggregate-only totals would admit compensating boundary errors.  Each
form's time is the best of 2 after a warm-up (``measure.timed_runs``).

Usage: python tools/bench_sessionize.py [n_events] [hot_pct]
Prints one JSON line {"n": ..., "native_s": ..., "bucketed_s": ...}.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

import measure  # noqa: E402

from ena_database_build_spark.streaming import events as STR  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    hot_pct = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    spark = measure.session("bench-sessionize")

    # ~a month of event time; deterministic hash spreads arrival times
    # so sessions (10 min gap) open and close constantly for every user
    ev = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(
                1_600_000_000
                + (F.xxhash64(F.col("id")) % 2_592_000)
            ).alias("ts"),
            F.when(
                F.col("id") % 100 < hot_pct, F.lit(0)
            ).otherwise(F.col("id") % 5_000 + 1).alias("user_id"),
            (F.col("id") % 97).cast("double").alias("value"),
        )
        .localCheckpoint()  # freeze the input: both forms read the
        # same materialized rows, no re-generation inside the timing
    )

    def run_native():
        measure.noop(STR.session_aggregates(ev, "10 minutes"))

    def run_bucketed():
        measure.noop(
            STR.session_aggregates_bucketed(ev, "10 minutes", "1 hour")
        )

    # parity first: FULL-ROW parity, not aggregate parity — an
    # order-insensitive digest over every output column catches
    # compensating boundary errors (e.g. a session split at a bucket
    # edge plus a spurious merge elsewhere) that would preserve both
    # the session count and the event total (r9 review finding)
    def digest(df):
        row = df.select(
            F.count("*").alias("n"),
            F.sum("n_events").alias("events"),
            F.sum(
                F.xxhash64(
                    *[F.col(c).cast("string") for c in sorted(df.columns)]
                ).cast("decimal(38,0)")  # long-sum overflows under ANSI
            ).alias("h"),
        ).collect()[0]
        return tuple(row)

    a = digest(STR.session_aggregates(ev, "10 minutes"))
    b = digest(STR.session_aggregates_bucketed(ev, "10 minutes", "1 hour"))
    assert a == b, f"parity broken: {a} vs {b}"

    native_s = round(measure.timed_runs(run_native, 2)[0], 3)
    bucketed_s = round(measure.timed_runs(run_bucketed, 2)[0], 3)
    print(json.dumps({
        "n": n, "hot_pct": hot_pct, "sessions": a[0],
        "native_s": native_s, "bucketed_s": bucketed_s,
        "speedup": round(native_s / bucketed_s, 2),
        "loadavg_1m": round(os.getloadavg()[0], 1),
    }))


if __name__ == "__main__":
    main()
