"""Driver-style correctness check: run every CATALOG query on Spark and
its oracle on DuckDB over the same parquet tables; compare row count,
column names, and an order-insensitive value hash.

Usage: python tools/check_catalog.py [sf_dir] [name ...]
       python tools/check_catalog.py [sf_dir] --first N
       python tools/check_catalog.py [sf_dir] --rtol 1e-9 [name ...]
       python tools/check_catalog.py [sf_dir] --spark-conf k=v ... [name ...]

Unknown names are reported and exit non-zero BEFORE any query runs
(round-8 verdict "What's wrong" #3 — one typo must not cost a long
session).  ``--first N`` checks the driver-style window (the first N
registry entries in order).

``--rtol X`` switches float columns from the exact 6-dp hash to an
element-wise relative comparison (rows aligned on a rounded sort key):
the mode that lets the float-EXTREME adversarial corpus (1e15
magnitudes planted next to cent-sized values) be adjudicated — at that
scale a multi-term float SUM is addition-order-sensitive, so Spark's
partial-aggregation tree and DuckDB's sequential fold legitimately
differ in the last ulps while agreeing to ~1e-15 relative (r8 verdict
#5: 16 spurious failures under the exact hash).  Non-float columns
stay exact.
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import measure  # noqa: E402

from ena_database_build_spark.plans.catalog import CATALOG  # noqa: E402
from ena_database_build_spark.session import get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.md5()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            col = col.round(6)
        h.update(col.to_csv(index=False).encode())
    return h.hexdigest()


def values_close(s: pd.DataFrame, o: pd.DataFrame, rtol: float) -> bool:
    """Order-insensitive comparison with relative tolerance on float
    columns (exact elsewhere); NaN == NaN.

    Alignment: a pairing of rows where every cell agrees (within rtol
    for floats) is a WITNESS that the frames match, so two candidate
    alignments are tried and either passing suffices.  (1) sort on a
    float-ROUNDED key — drift cannot reorder rows, but a value pair
    straddling a rounding-grid boundary mis-keys (0.00499.. vs
    0.00500.. round to 0.0 vs 0.01 and cross-pair against OTHER rows
    — r9 review finding, previously a spurious FAIL); (2) sort on the
    RAW float values — correct whenever inter-row gaps exceed the
    drift, i.e. exactly the boundary-straddle case.  A genuinely
    divergent frame fails under every pairing, so trying both cannot
    mask a real difference.
    """
    import numpy as np

    def aligned(df: pd.DataFrame, rounded: bool) -> pd.DataFrame:
        key = df.copy()
        if rounded:
            for c in key.columns:
                if key[c].dtype.kind == "f":
                    key[c] = key[c].round(2)
        order = key.sort_values(by=list(key.columns), ignore_index=False)
        return df.loc[order.index].reset_index(drop=True)

    def pairing_ok(sa: pd.DataFrame, oa: pd.DataFrame) -> bool:
        for c in sa.columns:
            if sa[c].dtype.kind == "f" and oa[c].dtype.kind == "f":
                if not np.allclose(
                    sa[c].to_numpy(), oa[c].to_numpy(),
                    rtol=rtol, atol=1e-12, equal_nan=True,
                ):
                    return False
            else:
                if not (sa[c].astype(str) == oa[c].astype(str)).all():
                    return False
        return True

    return any(
        pairing_ok(aligned(s, rounded), aligned(o, rounded))
        for rounded in (True, False)
    )


def resolve_names(argv: list[str]) -> list[str]:
    """Turn the CLI tail into a validated query-name list.

    Raises SystemExit (before any Spark/DuckDB work) on unknown names
    or a malformed --first argument, listing every offender at once.
    """
    if argv[:1] == ["--first"]:
        if len(argv) != 2 or not argv[1].isdigit() or int(argv[1]) < 1:
            raise SystemExit("--first takes one positive integer")
        return list(CATALOG)[: int(argv[1])]
    names = argv or list(CATALOG)
    unknown = [n for n in names if n not in CATALOG]
    if unknown:
        raise SystemExit(
            f"unknown query name(s): {unknown} — nothing was run. "
            f"Valid names are the {len(CATALOG)} CATALOG keys."
        )
    return names


def error_class(exc: Exception) -> str:
    """Coarse cross-engine error taxonomy for the both-raise
    convention: two engines 'agree on the error contract' only when
    their exceptions fall in the same class.  Classes are derived
    from the message because the exception TYPES never match across
    engines (Py4J-wrapped Spark vs duckdb.Error).  Unrecognized
    errors class as 'other', which never matches — an unknown failure
    pair is a FAIL to triage, not an agreement."""
    msg = str(exc).upper()
    for cls, needles in (
        ("overflow", ("OVERFLOW", "OUT OF RANGE")),
        ("cast", ("CAST", "CANNOT BE PARSED", "CONVERSION")),
        ("divide_by_zero", ("DIVIDE BY ZERO", "DIVISION BY ZERO")),
    ):
        if any(n in msg for n in needles):
            return cls
    return "other"


def parse_spark_confs(argv: list[str]) -> tuple[dict[str, str], list[str]]:
    """Strip any number of ``--spark-conf key=value`` pairs (anywhere
    in the tail); returns ({key: value}, remaining argv).  Confs are
    applied with ``spark.conf.set`` AFTER session creation, so only
    runtime-settable SQL confs take effect (shuffle.partitions, AQE
    toggles — the partition-invariance sweep's levers); a static conf
    here raises from Spark itself rather than silently no-opping.
    Validated before any work."""
    confs: dict[str, str] = {}
    rest: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--spark-conf":
            if i + 1 >= len(argv) or "=" not in argv[i + 1]:
                raise SystemExit(
                    "--spark-conf takes key=value, e.g. "
                    "--spark-conf spark.sql.shuffle.partitions=5"
                )
            k, _, v = argv[i + 1].partition("=")
            confs[k] = v
            i += 2
        else:
            rest.append(argv[i])
            i += 1
    return confs, rest


def parse_rtol(argv: list[str]) -> tuple[float | None, list[str]]:
    """Strip an optional ``--rtol X`` (anywhere in the tail); returns
    (rtol or None, remaining argv).  Validated before any work."""
    if "--rtol" not in argv:
        return None, argv
    i = argv.index("--rtol")
    try:
        rtol = float(argv[i + 1])
    except (IndexError, ValueError):
        raise SystemExit("--rtol takes one float, e.g. --rtol 1e-9")
    if not rtol > 0:
        raise SystemExit("--rtol must be positive")
    return rtol, argv[:i] + argv[i + 2:]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    confs, rest = parse_spark_confs(sys.argv[2:])
    rtol, rest = parse_rtol(rest)
    names = resolve_names(rest)
    spark = get_spark("check-catalog")
    for k, v in confs.items():
        spark.conf.set(k, v)
        print(f"spark-conf {k}={v}")
    # scramble-mode corpora lay each table out as a DIRECTORY of part
    # files; the views read either layout
    con = measure.duck_views(duckdb.connect(), sf_dir)
    failures = []
    for name in names:
        qd = CATALOG[name]
        try:
            sdf = qd.spark(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            # differential convention: BOTH engines raising on the
            # same input is agreement on the error contract (e.g. the
            # exact-cents bigint device overflowing on 1e15-magnitude
            # planted prices raises ARITHMETIC_OVERFLOW in Spark and
            # OutOfRange in DuckDB — the ANSI posture, not a defect).
            # Both messages print so a mismatched REASON stays visible.
            if qd.oracle is not None:
                try:
                    con.sql(qd.oracle).df()
                except Exception as oexc:  # noqa: BLE001
                    # r9 review: both-raise counts as agreement ONLY
                    # when the error CLASSES match — an unrelated
                    # oracle failure (typo, mount problem) must not
                    # mask a genuine Spark regression as green.
                    cs, co = error_class(exc), error_class(oexc)
                    if cs == co and cs != "other":
                        print(
                            f"OK    {name}: both engines raise {cs} "
                            f"(spark: {str(exc)[:80]} | "
                            f"oracle: {str(oexc)[:80]})"
                        )
                        continue
                    failures.append(name)
                    print(
                        f"FAIL  {name}: both raise but classes differ "
                        f"({cs} vs {co}) — spark: {str(exc)[:80]} | "
                        f"oracle: {str(oexc)[:80]}"
                    )
                    continue
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if qd.oracle is None:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.sql(qd.oracle).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {exc}")
            continue
        s, o = canon(sdf), canon(odf)
        if list(s.columns) != list(o.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(s.columns)} vs {list(o.columns)}")
            continue
        if len(s) != len(o):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(s)} vs {len(o)}")
            continue
        if rtol is not None:
            if not values_close(s, o, rtol):
                failures.append(name)
                print(f"FAIL  {name}: values differ beyond rtol={rtol} "
                      f"({len(s)} rows)")
            else:
                print(f"OK    {name}: {len(s)} rows (rtol={rtol})")
            continue
        hs, ho = value_hash(s), value_hash(o)
        if hs != ho:
            failures.append(name)
            print(f"FAIL  {name}: value hash mismatch ({len(s)} rows)")
            diff = (s != o)
            bad = diff.any(axis=1)
            if bad.any():
                print("  spark:", s[bad].head(3).to_dict("records"))
                print("  oracle:", o[bad].head(3).to_dict("records"))
        else:
            print(f"OK    {name}: {len(s)} rows")
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if failures:
        print("failures:", failures)
        sys.exit(1)


if __name__ == "__main__":
    main()
