"""Listing of gzipped EMBL flat files (operators S1-S3, F1).

The reference walks the directory tree with dynamically scheduled Dask
tasks (ena_build/dask_tasks.py:16-87) and hands each ``*.dat.gz`` file
to one worker, which opens and streams it line by line
(ena_build/parse_embl.py:482-484).  In Spark the walk is the driver's
parallel ``InMemoryFileIndex`` (``recursiveFileLookup``) and the suffix
filter is ``pathGlobFilter`` (prunes at *listing* time).  The scan
lists members and reads none of their bytes: the per-file parse
(``operators/segmentation.py``) opens each member in a Python worker,
one member at a time, as the reference's workers do.
"""

from __future__ import annotations

from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ena_database_build_spark.functions import embl as E

EMBL_GLOB = "*.dat.gz"


def read_embl_lines(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """List the EMBL flat files under ``paths``: one row per member,
    ``file STRING``, the member's ``file:`` URI as ``input_file_name()``
    prints it (URL-encoded).

    F1 always applies: in ``sequence/`` trees only
    ``_(ENV|PRO|FUN|PHG)_`` division files are kept
    (ena_build/dask_tasks.py:78-85).  The predicate is on the scan's
    ``_metadata.file_path``, which Spark evaluates against the file
    listing.  The scan is ``binaryFile`` with no content column
    selected, so no member's bytes enter the JVM.

    Python workers open the members by path, so every root must be a
    local path or a ``file:`` URI that executors can read; any other
    scheme raises ``ValueError``.
    """
    if isinstance(paths, str):
        paths = [paths]
    for path in paths:
        if urlsplit(path).scheme not in ("", "file"):
            raise ValueError(f"{path}: EMBL members are read by local path")
    # `file` stays input_file_name() (file:///...), not _metadata's
    # file:/... form: the dead-letter channels print it
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", EMBL_GLOB)
        .load(paths)
        .where(E.matches_sequence_division(F.col("_metadata.file_path")))
        .select(F.input_file_name().alias("file"))
    )
