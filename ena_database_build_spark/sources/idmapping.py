"""The ``idmapping`` lookup table source (operator S4, J1's build side).

The reference opens one MySQL connection per Dask task and ships each
record's protein-id set to the database as an ``IN (...)`` list, fetching
1000 rows at a time (ena_build/mysql_database.py:50-134) — OOM-avoidance
for row-at-a-time execution.  In Spark the whole idmapping relation is a
DataFrame and the lookup becomes one global equi-join; per-record
batching disappears.

Scale: UniProt's idmapping is ~O(10^9) rows but only two narrow string
columns; at 100 TB input the right physical strategy is a shuffled join
with both sides hash-partitioned on ``foreign_id`` — or a broadcast if a
division-filtered subset fits (ena ids per run are a small slice).  The
planner and AQE make that choice from the relation's size: a mapping
under ``spark.sql.autoBroadcastJoinThreshold`` is broadcast, a larger
one is shuffle-joined.  The table is joined as read, never deduplicated
or aggregated as a whole: duplicate pairs collapse in the pipeline's
per-locus regroup, among the few pairs a build matches
(``plans/ena_pipeline.py`` ``resolve_uniprot_ids``), so a build pays one
scan and one shuffle of the mapping, not a full-table aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_idmapping_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet-registered idmapping, read with the declared schema
    ``foreign_id STRING, uniprot_id STRING``: the columns are found by
    name, any other column of the files is not read, and no job runs to
    infer the schema from the files' footers."""
    return spark.read.schema("foreign_id STRING, uniprot_id STRING").parquet(path)


def read_idmapping_jdbc(
    spark: SparkSession,
    url: str,
    table: str = "idmapping",
    num_partitions: int = 32,
    fetch_size: int = 10_000,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC source mirroring the reference's MySQL table
    (ena_build/mysql_database.py:5-43).  ``fetchsize`` replaces the
    reference's ``fetchmany(1000)`` batching; ``numPartitions`` +
    bounds give parallel range scans instead of one serial cursor.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetch_size))
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load().select("foreign_id", "uniprot_id")

