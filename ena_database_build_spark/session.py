"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster — AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow on (vectorized pandas exchange),
and an explicit shuffle-partition count instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ena-database-build-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # transformWithState spawns Python workers FROM THE JVM, which
    # captures os.environ at launch — so the pip-less protobuf shim
    # (PYTHONPATH drop, see pbshim.py) must be installed BEFORE the
    # session exists; mutating the env afterwards never reaches the
    # spawned workers.  No-op when a pip protobuf is installed.
    from .pbshim import install_protobuf_shim

    install_protobuf_shim()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    # Local corpora are a handful of MB-scale files; Spark's stock
    # 128 MB maxPartitionBytes / 4 MB openCostInBytes packs them all
    # into one or two scan partitions and pins every scan stage onto
    # one thread.  In local mode split at 4 MB / 1 MB so a small corpus
    # still feeds all threads (measured at sf1: q1 0.43->0.24 s,
    # lang_id 0.75->0.41 s).  Cluster masters keep Spark's defaults —
    # at 100 TB the input supplies ample splits and 128 MB is right.
    local = master.startswith("local")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Pin the session timezone: event-time streaming state
        # (transformWithState timers vs the watermark) and the
        # unix_timestamp()-based bucket arithmetic both assume epoch
        # math in UTC, and the DuckDB oracles compare tz-naive values.
        # A JVM-local default west of UTC would fire event timers
        # early by the offset (splitting sessions) — see
        # streaming/events.py session_aggregates_bucketed_stream.
        .config("spark.sql.session.timeZone", "UTC")
        # read TIMESTAMP(NANOS) parquet (unsupported natively) as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # near Spark's stock 10 MB default, NOT higher: the broadcast
        # build (collect + hashed-relation construction + exchange) is a
        # serial step, and past ~10 MB a sort-merge/shuffled-hash join
        # that reuses the build side's existing hash partitioning
        # measures faster (sf1: 1.5 M-row aggregated build side joined
        # broadcast 2.5 s vs SMJ 1.2 s).  Small dims still broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        # collect_set/collect_list aggregations (ObjectHashAggregate)
        # fall back to sort-based after 128 in-memory groups by default
        # — a measured ~15% penalty on the per-order set-collects at
        # sf0.1.  4096 keeps typical per-partition group counts in the
        # hash path without the allocation churn a very large cap
        # showed (1M measured SLOWER than 128).
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096"
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR", f"/tmp/spark-warehouse-{os.getpid()}"
            ),
        )
        # local[N] runs every executor thread inside the driver JVM.
        # Counter-intuitively, LARGER heaps (8g/24g) measured slower
        # and wildly erratic on this VM (host-level memory stalls when
        # the guest touches more RAM); 4g is consistently fastest for
        # the test corpora.  Override with SPARK_DRIVER_MEM for bigger
        # local runs.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "4g"))
        # shuffle/spill on tmpfs: the VM's virtual disk has erratic
        # latency that can dominate wall time; RAM-backed local dirs
        # make shuffle I/O deterministic (falls back to default when
        # /dev/shm is absent)
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIR",
                "/dev/shm/spark-local"
                if os.path.isdir("/dev/shm")
                else "/tmp/spark-local",
            ),
        )
    )
    if local:
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", str(4 << 20)
        ).config("spark.sql.files.openCostInBytes", str(1 << 20))
    return builder.getOrCreate()
