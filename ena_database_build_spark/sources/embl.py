"""Ordered ingest of gzipped EMBL flat files (operators S1-S3, F1, X2).

The reference walks the directory tree with dynamically scheduled Dask
tasks (ena_build/dask_tasks.py:16-87) and streams each ``*.dat.gz`` line
by line (ena_build/parse_embl.py:482-484).  In Spark the walk is the
driver's parallel ``InMemoryFileIndex`` (``recursiveFileLookup``), the
suffix filter is ``pathGlobFilter`` (prunes at *listing* time — files
are never opened), and gzip decoding is the built-in codec.

Like the reference, the scan streams lines: one row per line, so no row
is ever file-sized and one path serves members of any size.  Line order
is semantic for the parser and is pinned at the scan (see
``read_embl_lines``); gzip is non-splittable, so one file is one read
split, exactly the reference's unit of parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ena_database_build_spark.functions import embl as E

EMBL_GLOB = "*.dat.gz"


def read_embl_lines(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Read EMBL flat files under ``paths`` into the ordered-line schema
    ``file STRING, line_no LONG, line STRING``.

    F1 always applies: in ``sequence/`` trees only
    ``_(ENV|PRO|FUN|PHG)_`` division files are kept
    (ena_build/dask_tasks.py:78-85).  The predicate is on the scan's
    ``_metadata.file_path``, which Spark evaluates against the file
    listing, so a dropped file is never opened.

    The text source splits lines on ``\\n``, ``\\r\\n`` and bare ``\\r``,
    as the reference's text-mode ``gzip.open`` does.  ``line_no`` is
    ``monotonically_increasing_id``: it increases in read order within a
    partition, and every admitted file is one read split (the
    ``*.dat.gz`` glob admits only non-splittable gzip members), so a
    file's ``line_no`` values are ascending in line order.  They are
    neither dense nor file-relative.  The per-file parse
    (``operators/segmentation.py``) relies on that same scan order
    directly: a partition yields each of its files whole, in line
    order.
    """
    if isinstance(paths, str):
        paths = [paths]
    # `file` stays input_file_name() (file:///...), not _metadata's
    # file:/... form: the dead-letter channels print it
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", EMBL_GLOB)
        .text(paths)
        .where(E.matches_sequence_division(F.col("_metadata.file_path")))
        .select(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("line_no"),
            F.col("value").alias("line"),
        )
    )
