"""Production-banded LSH row (q_lsh_candidate_pairs_prod): oracle
parity BEFORE its r11 registration (the one-shot
tools/rotate_catalog_r11.py; git history keeps the removed script), so
the row enters the graded window already test-pinned.

The row is deliberately unregistered through round 10 (zero-net-new
freeze); this test exercises the exact function + SQL pair the r11
rotation will register."""

import duckdb
import pandas as pd
from conftest import SF_DIR

from ena_database_build_spark.plans.catalog import (
    SQL_LSH_PAIRS_PROD,
    q_lsh_candidate_pairs_prod,
)


def test_prod_lsh_matches_oracle_and_is_nonvacuous(spark):
    s = q_lsh_candidate_pairs_prod(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR}/documents.parquet'"
    )
    o = con.sql(SQL_LSH_PAIRS_PROD).df()
    con.close()

    def canon(df: pd.DataFrame) -> list[tuple]:
        return sorted(map(tuple, df[["left_id", "right_id"]].values))

    assert len(s) == len(o)
    assert canon(s) == canon(o)
    # non-vacuous: every planted (doc, doc+1e6) near-duplicate pair
    # must surface as a candidate (one appended token leaves the
    # 3-shingle Jaccard near 1, so all 32 sim^4 bands collide w.h.p.
    # and the planted pair is the guaranteed signal the row grades)
    pairs = set(canon(s))
    planted = [
        (d, d + 1_000_000)
        for d in range(0, 50, 10)
        if (d, d + 1_000_000) in pairs or (d + 1_000_000, d) in pairs
    ]
    assert len(planted) >= 4, pairs
