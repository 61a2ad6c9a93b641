"""Command-line entry point (reference parity: ``ena_dask_tskmgr``,
/root/reference/pyproject.toml:22-23 + ena_build/dask_tskmgr.py:79-257).

The reference CLI takes ENA directory roots, a Windows-INI database
config for the idmapping MySQL table, and an output directory, then
schedules Dask tasks.  Here the same surface wires the Spark lineage:

    read_embl_lines -> build_all -> write_ena_tab (+ dead letters)

Like the reference, each member is opened by one worker and streamed
line by line, whatever its size, so there is no ingest option; a member
whose gzip stream is cut or corrupt becomes a dead letter instead of
failing the build.

Scheduler knobs (``--scheduler-file``/``--n-workers``) become the Spark
master URL and shuffle-partition count; ``--local-scratch`` maps to
``spark.local.dir`` (set via SPARK_LOCAL_DIR, see session.py).  The
idmapping source is either a parquet path or a JDBC table, the latter
configured exactly like the reference: an INI file with a
``[database]`` section (operator S8 — driver-side config, SURVEY.md
§2.1).
"""

from __future__ import annotations

import argparse
import configparser
import sys

from ena_database_build_spark.plans.ena_pipeline import build_all
from ena_database_build_spark.session import get_spark
from ena_database_build_spark.sources.embl import read_embl_lines
from ena_database_build_spark.sources.idmapping import (
    read_idmapping_jdbc,
    read_idmapping_parquet,
)
from ena_database_build_spark.sources.sinks import write_ena_tab


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        prog="ena-spark-build",
        description="Process the ENA database with the Spark engine",
    )
    parser.add_argument(
        "--ena-paths",
        required=True,
        nargs="+",
        help="local directory roots searched recursively for *.dat.gz "
        "EMBL files; each file is streamed line by line, whatever its size",
    )
    parser.add_argument(
        "--output-dir",
        "-out",
        required=True,
        help="output directory for the tab-separated ena table",
    )
    src = parser.add_mutually_exclusive_group(required=True)
    src.add_argument(
        "--idmapping-parquet",
        help="parquet path with (foreign_id, uniprot_id) columns",
    )
    src.add_argument(
        "--db-config",
        "-conf",
        help="Windows-INI file with a [database] section "
        "(user/password/host/port, like the reference's)",
    )
    parser.add_argument(
        "--db-name",
        "-dbn",
        help="database name for the JDBC idmapping source "
        "(required with --db-config)",
    )
    parser.add_argument(
        "--db-table", default="idmapping", help="idmapping table name"
    )
    parser.add_argument(
        "--master",
        default=None,
        help="Spark master URL (default: local[$SPARK_GRAFT_CPUS])",
    )
    parser.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="spark.sql.shuffle.partitions (default: scale-aware)",
    )
    parser.add_argument(
        "--partition-by-source-dir",
        action="store_true",
        help="shard the output per source dir (reference layout, P9)",
    )
    parser.add_argument(
        "--single-file",
        action="store_true",
        help="concat everything into one sorted file (small exports only)",
    )
    parser.add_argument(
        "--rejects-dir",
        default=None,
        help="also write the dead-letter channels (records, blocks, files)",
    )
    args = parser.parse_args(argv)
    if args.db_config and not args.db_name:
        parser.error("--db-name is required with --db-config")
    return args


def jdbc_url_from_ini(path: str, db_name: str) -> tuple[str, dict[str, str]]:
    """Reference S8 parity: read the [database] INI section and build a
    MySQL JDBC URL + credential options (dask_tskmgr.py:122-131)."""
    config = configparser.ConfigParser()
    try:
        config.read(path)
        params = config["database"]
    except (configparser.Error, KeyError) as err:
        sys.exit(f"Parsing --db-config file {path} failed:\n{err}")
    for param in ["user", "password", "host", "port"]:
        if param not in params:
            sys.exit(f"'{param}' is missing from the --db-config file.")
    url = f"jdbc:mysql://{params['host']}:{params['port']}/{db_name}"
    return url, {"user": params["user"], "password": params["password"]}


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    spark = get_spark(
        "ena-database-build",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    members = read_embl_lines(spark, args.ena_paths)
    if args.idmapping_parquet:
        idmapping = read_idmapping_parquet(spark, args.idmapping_parquet)
    else:
        url, options = jdbc_url_from_ini(args.db_config, args.db_name)
        idmapping = read_idmapping_jdbc(spark, url, args.db_table, **options)

    result = build_all(members, idmapping)
    if args.rejects_dir:
        # the table and the dead-letter channels read one parsed frame
        # (a row per record, per CDS block and per bad member): parse
        # once for the four writes
        result.segmented.persist()
    try:
        write_ena_tab(
            result.ena_tab,
            args.output_dir,
            partition_by_source_dir=args.partition_by_source_dir,
            single_file=args.single_file,
        )
        if args.rejects_dir:
            # dead-letter channels keep the source file column (unlike
            # the ena table, where it is provenance-only)
            for name, df in [
                ("records", result.rejected_records),
                ("blocks", result.rejected_blocks),
                ("files", result.rejected_files),
            ]:
                df.write.mode("overwrite").option("sep", "\t").option(
                    "header", "false"
                ).csv(f"{args.rejects_dir}/{name}")
    finally:
        result.segmented.unpersist()  # a no-op when nothing was persisted


if __name__ == "__main__":
    main()
