"""Ordered-line sessionization (operators G1-G4).

The reference parses each EMBL file with a single-pass state machine
(ena_build/parse_embl.py:444-570).  Relationally that machine is two
nested sessionizations over an ordered line stream; here they are
conditional running sums over ``Window.partitionBy(file).orderBy(line_no)``.

Scale note: one window partition = one file, which is exactly the
reference's parallelism unit (one Dask task holds a handful of files —
ena_build/dask_tasks.py:168-178).  EMBL files are "relatively small"
(reference README.md:48), so a per-file partition fits executor memory;
AQE handles stragglers.  All downstream group-bys key on
``(file, record_idx, block_idx)`` which only ever *refines* the window
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ena_database_build_spark.functions import embl as E


def segment_lines(embl_lines: DataFrame) -> DataFrame:
    """G1+G2: assign ``record_idx`` and ``block_idx`` to every retained line.

    Input schema: ``file STRING, line_no LONG, line STRING`` (order pinned
    by ``line_no``).  Output adds:

    * ``record_idx`` — running count of ``ID   `` lines in the file; each
      ID line opens a new record (G1, parse_embl.py:494-520).  Lines
      before the first ID get 0 and belong to no record.
    * ``block_idx`` — running count of feature-block-start lines (P4);
      every feature start closes the previous block and opens a new one
      (G2, parse_embl.py:545-559).  Because an ID line does not increment
      ``block_idx``, blocks are keyed by (record_idx, block_idx) so a
      stale block index can never leak across records.
    """
    w = (
        Window.partitionBy("file")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    line = F.col("line")
    # The windows' file exchange, placed below the flags: the records and
    # the blocks branch prune the flags and windows differently, so only
    # this subtree is the same in both and Spark reuses its exchange (one
    # scan, one line shuffle for both).
    kept = embl_lines.where(E.is_interesting_line(line)).repartition("file")
    flagged = kept.select(
        "*",
        E.is_id_line(line).alias("is_id"),
        E.is_feature_start(line).alias("is_ft_start"),
        (
            (E.is_feature_start(line) | E.is_qualifier_continuation(line))
            & line.contains("/")
        )
        .cast("int")
        .alias("_has_slash"),
    )
    # all three running sums share one Window spec -> ONE window pass
    # (chained withColumn would plan separate Window operators)
    return flagged.select(
        "*",
        F.sum(F.col("is_id").cast("long")).over(w).alias("record_idx"),
        F.sum(F.col("is_ft_start").cast("long")).over(w).alias("block_idx"),
        F.sum("_has_slash").over(w).alias("_slash_cum"),
    )


def extract_records(segmented: DataFrame) -> DataFrame:
    """Per-record header + taxonomy gate (P1, F3, F4, F5, F6).

    Returns one row per (file, record_idx) with the parsed ID-line struct
    flattened, plus ``fungi_dropped`` (F3: any OC line in the record names
    Eukaryota without `` Fungi`` — parse_embl.py:527-535) and
    ``reject_reason`` for the dead-letter channel.
    """
    # Only ID lines and record-voiding OC lines influence the record
    # header — filter BEFORE the aggregation shuffle so it carries
    # ~records-many rows, not every feature line of the corpus.
    relevant = segmented.where(
        F.col("is_id") | E.is_drop_taxonomy_line(F.col("line"))
    ).withColumn(
        "id_info",
        F.when(F.col("is_id"), E.parse_id_line(F.col("line"))),
    )
    return (
        relevant.where(F.col("record_idx") > 0)
        .groupBy("file", "record_idx")
        .agg(
            # exactly one ID line per record_idx by construction
            F.first("id_info", ignorenulls=True).alias("id_info"),
            F.max(
                E.is_drop_taxonomy_line(F.col("line")).cast("int")
            ).alias("_fungi_drop"),
        )
        .select(
            "file",
            "record_idx",
            F.col("id_info.ena_id").alias("ena_id"),
            F.col("id_info.chr_struct").alias("chr_struct"),
            F.col("id_info.chr_len").alias("chr_len"),
            F.when(F.col("_fungi_drop") == 1, F.lit("non_fungi_eukaryote"))
            .otherwise(F.col("id_info.reject_reason"))
            .alias("reject_reason"),
            (F.col("_fungi_drop") == 1).alias("fungi_dropped"),
        )
    )


def extract_cds_blocks(segmented: DataFrame) -> DataFrame:
    """G2 close-out: one row per CDS feature block, pre-digested.

    A block belongs to a CDS iff its head line (the feature-start line
    that opened it) starts with ``FT   CDS `` (P5, parse_embl.py:557).
    Only the head line and ``FT    `` qualifier-continuation lines (P6,
    parse_embl.py:564) enter the block's line buffer; anything else
    inside the block span is ignored, matching the state machine's
    fall-through.

    Scale design: a buffered block line matters only as (a) part of the
    location descriptor — the concatenation cut at the block's first
    ``/`` (parse_embl.py:129) — or (b) an xref carrier (P2).  Both are
    decided map-side here, over the same per-file sort the
    segmentation window already established (no extra exchange): a
    cumulative slash count per block marks post-qualifier lines, whose
    text — including arbitrarily long ``/translation`` payloads — is
    dropped BEFORE the block shuffle.  Only short location fragments
    and extracted ids travel.

    Output: ``file, record_idx, block_idx, first_line_no,
    loc_parts ARRAY<STRING> (in line order), protein_ids, uniprot_ids``.
    """
    w = Window.partitionBy("file").orderBy("line_no")
    line = F.col("line")
    candidate = F.col("is_ft_start") | E.is_qualifier_continuation(line)
    has_slash = F.col("_has_slash")
    slash_cum = F.col("_slash_cum")  # computed in segment_lines' window pass
    # slash count just before the current block's head line
    block_base = F.last(
        F.when(F.col("is_ft_start"), slash_cum - has_slash), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    prior_slash = slash_cum - has_slash - block_base

    pre = (
        segmented.withColumn("_prior_slash", prior_slash)
        .where(
            (F.col("block_idx") > 0)
            & (F.col("record_idx") > 0)
            & candidate
        )
        .select(
            "file",
            "record_idx",
            "block_idx",
            "line_no",
            "_prior_slash",
            F.when(
                F.col("_prior_slash") == 0,
                F.when(
                    line.contains("/"), F.substring_index(line, "/", 1)
                ).otherwise(line),
            ).alias("loc_part"),
            E.protein_id(line).alias("protein_id"),
            E.uniprot_id(line).alias("uniprot_id"),
            (F.col("is_ft_start") & E.is_cds_head(line)).alias("is_cds_head"),
            F.col("is_ft_start"),
        )
        .where(
            (F.col("_prior_slash") == 0)
            | F.col("protein_id").isNotNull()
            | F.col("uniprot_id").isNotNull()
        )
        .drop("_prior_slash")
    )
    return (
        pre.groupBy("file", "record_idx", "block_idx")
        .agg(
            F.min("line_no").alias("first_line_no"),
            F.max(
                F.when(F.col("is_ft_start"), F.col("is_cds_head"))
            ).alias("_head_is_cds"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("loc_part").isNotNull(),
                        F.struct("line_no", "loc_part"),
                    )
                )
            ).alias("_ordered"),
            F.collect_set("protein_id").alias("protein_ids"),
            F.collect_set("uniprot_id").alias("uniprot_ids"),
        )
        .where(F.col("_head_is_cds"))
        .select(
            "file",
            "record_idx",
            "block_idx",
            "first_line_no",
            F.transform(F.col("_ordered"), lambda s: s["loc_part"]).alias(
                "loc_parts"
            ),
            "protein_ids",
            "uniprot_ids",
        )
    )


def number_loci(parsed_blocks: DataFrame) -> DataFrame:
    """G4: assign ``locus_num`` = 1-based ordinal of *successfully parsed*
    CDS blocks within a record, in block order (quirk SURVEY.md §2.10.4:
    failed blocks — F7 — are dropped before numbering, reference
    parse_embl.py:150-154 returns before the count increment at :190).

    Input must already be filtered to blocks with >=1 location range.
    """
    w = Window.partitionBy("file", "record_idx").orderBy("first_line_no")
    return parsed_blocks.withColumn("locus_num", F.row_number().over(w))
