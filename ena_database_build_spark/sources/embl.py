"""Ordered ingest of gzipped EMBL flat files (operators S1-S3, F1, X2).

The reference walks the directory tree with dynamically scheduled Dask
tasks (ena_build/dask_tasks.py:16-87) and streams each ``*.dat.gz`` line
by line (ena_build/parse_embl.py:482-484).  In Spark the walk is the
driver's parallel ``InMemoryFileIndex`` (``recursiveFileLookup``), the
suffix filter is ``pathGlobFilter`` (prunes at *listing* time — files
are never opened), and gzip decoding is the built-in codec.

Line order is semantic for the parser, so we ingest with
``wholetext=true`` (one row per file — gzip is non-splittable anyway, so
this costs no parallelism versus line mode) and pin order with
``posexplode``.  One file = one row = one unit of parallelism, exactly
the reference's granularity; ``repartition`` spreads millions of small
files evenly across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ena_database_build_spark.functions import embl as E

EMBL_GLOB = "*.dat.gz"


def read_embl_lines(
    spark: SparkSession,
    paths: list[str] | str,
    strategy: str = "wholetext",
) -> DataFrame:
    """Read EMBL flat files under ``paths`` into the ordered-line schema
    ``file STRING, line_no LONG, line STRING``.

    F1 always applies: in ``sequence/`` trees only
    ``_(ENV|PRO|FUN|PHG)_`` division files are kept
    (ena_build/dask_tasks.py:78-85).  The predicate is on the scan's
    ``_metadata.file_path``, which Spark evaluates against the file
    listing, so a dropped file is never opened.

    ``strategy``:

    * ``"wholetext"`` (default) — one blob row per file, exploded after
      a blob-level repartition; downstream windows/group-bys then need
      no line-level exchange.  Right for the reference corpus shape
      ("millions of relatively small gzip'd files", reference
      README.md:48); a single file must fit in one row buffer.
    * ``"lines"`` — plain line-mode text scan for corpora with
      pathologically large members: gzip is non-splittable so each
      file's lines arrive in read order within its partition;
      ``monotonically_increasing_id`` pins that order into ``line_no``.
      Costs one line-level shuffle for the sessionization windows.
    """
    if isinstance(paths, str):
        paths = [paths]
    if strategy not in ("wholetext", "lines"):
        raise ValueError(f"unknown ingest strategy: {strategy!r}")
    # shared listing/reader config so both strategies always ingest the
    # SAME file set (recursive lookup + glob + F1 division filter).
    # NB: wholetext must be the reader kwarg — the string option key is
    # not picked up by the text source in Spark 4.x.  The *.dat.gz glob
    # is also what makes line mode's ordering proof hold (gzip is
    # non-splittable, so one file = one read split); see below.
    raw = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", EMBL_GLOB)
        .text(paths, wholetext=strategy == "wholetext")
        .where(E.matches_sequence_division(F.col("_metadata.file_path")))
    )
    # `file` stays input_file_name() (file:///...), not _metadata's
    # file:/... form: the dead-letter channels print it
    if strategy == "lines":
        raw = raw.select(
            F.input_file_name().alias("file"),
            F.col("value").alias("line"),
            F.monotonically_increasing_id().alias("_mid"),
        )
        # ordering guard: _mid is monotone per file ONLY while every
        # admitted file is non-splittable (one file = one read split);
        # a splittable member would interleave its splits
        w = Window.partitionBy("file").orderBy("_mid")
        return raw.select(
            "file",
            (F.row_number().over(w) - 1).cast("long").alias("line_no"),
            "line",
        )
    # Repartition the WHOLE-FILE blobs by file before exploding: the
    # shuffle then moves one row per file instead of millions of line
    # rows, and the resulting hashpartitioning(file) satisfies every
    # downstream clustering requirement (windows and group-bys all key
    # on a `file` prefix), so the entire sessionization pipeline runs
    # with no further exchange of line data.
    raw = raw.select(F.input_file_name().alias("file"), "value").repartition(
        spark.sparkContext.defaultParallelism * 2, "file"
    )
    # universal-newline split — the reference reads with text-mode
    # gzip.open (newline=None), so \r\n and \r collapse to \n
    return raw.select(
        "file",
        F.posexplode(F.split(F.col("value"), "\r\n|\r|\n")).alias(
            "line_no", "line"
        ),
    )
