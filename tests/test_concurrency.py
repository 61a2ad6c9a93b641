"""Shared-session thread-safety (round 9).

A library gets embedded in hosts that fire many queries at one
SparkSession from a thread pool (notebook servers, query services) —
Spark supports concurrent actions per session, but only if the
LIBRARY keeps no session-global state.  An audit shows this engine
creates no temp views, sets no session confs, and caches nothing on
the session; this test converts that audit into an executable pin:
a mixed batch of catalog queries run from worker threads must produce
exactly the values the same queries produce serially.

Queries chosen to cross operator families (relational agg, dedup
fingerprints, window sessionization, text heuristics, HOF embeddings)
while staying cheap at sf0.001.
"""

from concurrent.futures import ThreadPoolExecutor

from conftest import SF_DIR
from ena_database_build_spark.plans.catalog import CATALOG

NAMES = [
    "tpch_q1_pricing",
    "dedup_exact",
    "g1_sessionize",
    "lang_id",
    "cosine_topk",
    "events_sessions",
]


def _canon(df) -> list[str]:
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)].astype(str)
    return sorted(pdf.apply("|".join, axis=1).tolist())


def test_concurrent_queries_match_serial(spark):
    serial = {n: _canon(CATALOG[n].spark(spark, SF_DIR)) for n in NAMES}

    def run(name: str) -> tuple[str, list[str]]:
        return name, _canon(CATALOG[name].spark(spark, SF_DIR))

    # two waves x 6 queries on 6 threads: every query overlaps with
    # every other at least once
    with ThreadPoolExecutor(max_workers=len(NAMES)) as pool:
        results = list(pool.map(run, NAMES + list(reversed(NAMES))))

    for name, rows in results:
        assert rows == serial[name], f"{name} diverged under concurrency"
