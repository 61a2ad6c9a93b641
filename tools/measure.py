"""Measurement core shared by ``bench.py`` and the timing tools.

* :func:`timed_runs` — one warm-up call, then ``reps`` timed calls;
  returns the sorted wall seconds so each caller keeps its own
  statistic (median of 3 in ``bench.py``/``time_rows``, best of 2 in
  the scaling tools).
* :func:`noop` — materialize a DataFrame through the ``noop`` sink:
  every output column is computed, nothing is shipped to Python.
* :func:`duck_views` — one DuckDB view per catalog table, over a single
  ``<t>.parquet`` file or a ``<t>.parquet/`` directory of parts.
* :func:`session` — the ``local[N]`` Spark session of the timing tools.
* :func:`replicate` — an N-replica corpus of the sf0.1 tables with
  disjoint key spaces per replica.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ena_database_build_spark.plans.catalog import TABLES  # noqa: E402
from ena_database_build_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
OFFSET = 10_000_000
# Replicated tables: the listed key columns are offset by replica so
# each replica is a DISJOINT key subgraph (joins never cross replicas
# and per-key group sizes stay constant — the workload scales linearly
# in N, which is what a floor curve must hold fixed).  Key sets are
# closed under the FK edges the catalog rows traverse: l_suppkey and
# s_suppkey shift together, o_custkey and c_custkey, l_partkey and
# p_partkey.  ``events.ts`` is deliberately NOT offset: replicas are
# disjoint user spaces over the SAME time range, so window densities
# grow N-fold.  Tables absent here (nation, region) are fixed-size dims
# copied once — replicating them would duplicate dim rows and corrupt
# every FK join.
KEY_COLS = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "supplier": ["s_suppkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
}


def timed_runs(fn, reps: int = 3) -> list[float]:
    """Call ``fn`` once untimed (JIT, codegen, parquet footers), then
    ``reps`` timed times; returns the ``reps`` wall seconds, sorted."""
    fn()
    runs = []
    for _ in range(reps):
        st = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - st)
    return sorted(runs)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the host's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def session(app: str, n: int | None = None, max_shuffle: int | None = None):
    """``local[n]`` Spark session (``n`` defaults to :func:`cpus`) with
    ``$SPARK_GRAFT_SHUFFLE`` shuffle partitions, else
    ``min(n, max_shuffle)``."""
    n = n or cpus()
    shuffle = int(
        os.environ.get("SPARK_GRAFT_SHUFFLE") or min(n, max_shuffle or n)
    )
    spark = get_spark(app, master=f"local[{n}]", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def duck_views(con, data_dir: str):
    """Create a view per catalog table present under ``data_dir``, read
    from ``<t>.parquet`` as a file or as a directory of part files;
    returns ``con``."""
    for t in TABLES:
        path = Path(data_dir) / f"{t}.parquet"
        if path.is_dir():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
        elif path.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def replicate(
    out_dir: str, replicas: int, tables=TABLES, vary_text: bool = False
) -> None:
    """Write ``replicas`` key-disjoint copies of each of ``tables`` from
    :data:`SRC` as ``<out_dir>/<t>.parquet/part-NNN.parquet`` (one part
    per replica, so scans split the way production inputs do).  With
    ``vary_text`` each replica's document text gets a ``r<i>`` suffix,
    keeping sf0.1's duplicate structure instead of an everything-
    matches-everything corpus.  A table already written with the same
    arguments is kept."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name in sorted(tables):
        suffix = "_text" if vary_text else ""
        marker = out / f".complete_{name}_{replicas}{suffix}"
        if marker.exists():
            continue
        for stale in out.glob(f".complete_{name}_*"):
            stale.unlink()
        dest = out / f"{name}.parquet"
        if dest.is_dir():
            shutil.rmtree(dest)
        elif dest.exists():
            dest.unlink()
        dest.mkdir()
        tbl = pq.read_table(f"{SRC}/{name}.parquet")
        keys = KEY_COLS.get(name)
        for i in range(replicas if keys else 1):
            rep = tbl
            if i:
                for k in keys:
                    rep = rep.set_column(
                        rep.schema.get_field_index(k),
                        k,
                        pc.add(rep.column(k), i * OFFSET),
                    )
            if vary_text and name == "documents":
                rep = rep.set_column(
                    rep.schema.get_field_index("text"),
                    "text",
                    pc.binary_join_element_wise(
                        rep.column("text").cast(pa.string()), f" r{i}", " "
                    ),
                )
            pq.write_table(rep, dest / f"part-{i:03d}.parquet")
        marker.touch()
