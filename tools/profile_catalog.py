"""Full-catalog timing profile: Spark vs the DuckDB oracle per query.

Runs EVERY catalog query on Spark (``measure.session``: local[N], N =
``measure.cpus()``) and its oracle on DuckDB over the same parquet
tables (``measure.duck_views``), and emits a JSON report sorted by
spark/oracle ratio.  Complements:

  * bench.py        — the 18-query headline gate (multi-rep, spreads)
  * bench_scale.py  — the 85-query sf1 throughput differential

This harness is about COVERAGE of the timing surface: it surfaces any
catalog query whose plan has silently regressed (ratio outlier) even
if it is not in the headline or scale suites.

Measurement discipline (learned the hard way in round 6):

* Spark side is ``df.write.format("noop")`` — computes every output
  column, ships nothing to Python.  ``collect()`` was charging Spark
  for JVM->Python row pickling (7s of a 7s reading on a 1.2M-row
  result); repeated ``collect()`` on the SAME DataFrame object is even
  worse as a "warm" probe, because AQE caches materialized shuffle
  stages on the instance and re-collects in ~0.1s regardless of true
  cost.  ``count()`` under-measures instead (column pruning deletes
  the expensive projections).
* DuckDB side is ``.arrow()`` — the matching no-Python-rows
  materialization.
* Two reps per query ON BOTH ENGINES, warm rep feeding the ratio:
  rep1 - rep2 isolates one-time codegen/compile latency (10s for the
  widest HOF Spark expressions; milliseconds for DuckDB, but charging
  one engine its compile and not the other would bias every ratio).
  Only the warm rep is a scale signal, and only when it is both slow
  in absolute terms and high-ratio.

Usage: python tools/profile_catalog.py [sf_dir] [out_json]
       python tools/profile_catalog.py [sf_dir] [out_json] \
           [--oracle-cap SECONDS] [name ...]

``--oracle-cap`` (default 300 s) interrupts a runaway DuckDB oracle
(quadratic all-pairs forms at sf1) and records an explicit TIMEOUT
row — the Spark timing still lands, and nothing is silently skipped.
Directory-laid-out tables (bench_scale corpora) are read as well.

``--skip a,b,c`` excludes rows ON BOTH SIDES, printing a SKIP line
per name.  HISTORY: through r10 the MinHash-family rows used
test-scaled LSH params (num_hashes=4, band_size=1) whose candidate
sets grew QUADRATICALLY with corpus size on BOTH engines — at sf1
one such row shuffled >100 GB (measured: it OOM-killed the JVM via
the tmpfs local dir) and its DuckDB oracle ran for hours — so six
rows were skipped at sf1.  r11 re-parameterized the family (16
hashes x band 4; simhash_candidates gained max_bucket=64) so every
row profiles at every SF: --skip should normally be EMPTY now.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

import measure  # noqa: E402

from ena_database_build_spark.plans.catalog import CATALOG  # noqa: E402


def timed_oracle(con, sql: str, cap_s: float) -> float | None:
    """Two warm reps of the oracle, but with a WALL CAP: a timer
    thread fires ``con.interrupt()`` after ``cap_s`` seconds, so a
    quadratic DuckDB oracle at sf1 (near_dedup's all-pairs verify was
    116 s at sf0.1 — hours at 10x) records an honest timeout row
    instead of stalling the whole profile or being silently skipped.
    Returns the warm-rep seconds, or None on timeout/error (caller
    distinguishes via the printed reason).

    Each rep runs on a FRESH cursor of the shared connection (cursors
    share the catalog, so the registered views resolve): Timer.cancel
    cannot stop a callback that is already firing, so an interrupt
    racing a just-completed query can still land AFTER the rep
    finishes — on a throwaway cursor that lands harmlessly, whereas
    on the shared connection it would spuriously abort the next rep
    or the next catalog row's oracle (r9 review finding; the earlier
    flag-under-lock gate only NARROWED that race — the flag is
    checked before con.interrupt(), leaving a window between the
    query returning and the finally block flipping the flag)."""
    import threading

    t = None
    for _ in range(2):
        cur = con.cursor()

        def maybe_interrupt(c=cur):
            try:
                c.interrupt()
            except duckdb.Error:  # cursor already closed — rep done
                pass

        timer = threading.Timer(cap_s, maybe_interrupt)
        timer.start()
        try:
            t0 = time.perf_counter()
            cur.sql(sql).arrow()
            t = time.perf_counter() - t0
        finally:
            timer.cancel()
            cur.close()
    return t


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/profile_catalog.json"
    argv = sys.argv[3:]
    # --oracle-cap accepted ANYWHERE in the tail and validated before
    # work; names validated against CATALOG so a typo'd flag or query
    # cannot be silently absorbed into a subset that matches nothing
    # (r9 review finding — the failure class resolve_names closed in
    # check_catalog)
    cap_s = 300.0
    if "--oracle-cap" in argv:
        i = argv.index("--oracle-cap")
        try:
            cap_s = float(argv[i + 1])
        except (IndexError, ValueError):
            raise SystemExit("--oracle-cap takes one number of seconds")
        if not cap_s > 0:
            raise SystemExit("--oracle-cap must be positive")
        argv = argv[:i] + argv[i + 2:]
    skip: set[str] = set()
    if "--skip" in argv:
        i = argv.index("--skip")
        if i + 1 >= len(argv):
            raise SystemExit("--skip takes a comma-separated name list")
        skip = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2:]
    unknown = [n for n in (set(argv) | skip) if n not in CATALOG]
    if unknown:
        raise SystemExit(
            f"unknown query name(s): {sorted(unknown)} — nothing was run. "
            f"Valid names are the {len(CATALOG)} CATALOG keys."
        )
    only = set(argv)  # optional query-name subset
    for n in sorted(skip):
        # loud, per-row: a skipped row must never read as covered
        print(f"SKIP  {n} (--skip)", flush=True)
    spark = measure.session("profile-catalog")
    con = measure.duck_views(duckdb.connect(), sf_dir)
    rows = []
    for name, qd in CATALOG.items():
        if (only and name not in only) or name in skip:
            continue
        try:
            reps = []
            for _ in range(2):
                df = qd.spark(spark, sf_dir)  # fresh plan: no AQE stage reuse
                t0 = time.perf_counter()
                measure.noop(df)
                reps.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001
            print(f"ERR   {name}: {exc}", flush=True)
            continue
        t_spark = reps[1]
        t_oracle = None
        if qd.oracle is not None:
            # own try: one bad oracle SQL must record an ERR row, not
            # abort the remaining queries (round-6 ADVICE)
            try:
                t_oracle = timed_oracle(con, qd.oracle, cap_s)
            except Exception as exc:  # noqa: BLE001
                msg = str(exc)
                kind = "TIMEOUT" if "INTERRUPT" in msg.upper() else "ERR"
                print(
                    f"{kind} {name} (oracle, cap {cap_s:g}s): {msg[:120]}",
                    flush=True,
                )
                t_oracle = None
        rows.append(
            {
                "name": name,
                "spark_cold_s": round(reps[0], 3),
                "spark_s": round(t_spark, 3),
                "oracle_s": round(t_oracle, 3) if t_oracle is not None else None,
                "ratio": round(t_spark / t_oracle, 2) if t_oracle else None,
            }
        )
        print(
            f"{name:32s} {reps[0]:7.3f}s cold {t_spark:7.3f}s warm  "
            f"{('%7.3fs' % t_oracle) if t_oracle is not None else '   --  '}",
            flush=True,
        )
    rows.sort(key=lambda r: -(r["ratio"] or 0))
    Path(out).write_text(json.dumps({"sf_dir": sf_dir, "queries": rows}, indent=1))
    print(f"\nwrote {out} ({len(rows)} queries)")
    worst = [r for r in rows if r["ratio"] and r["spark_s"] > 0.5][:15]
    for r in worst:
        print(f"{r['name']:32s} ratio {r['ratio']:6.2f}  spark {r['spark_s']:.3f}s")


if __name__ == "__main__":
    main()
