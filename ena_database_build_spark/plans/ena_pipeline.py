"""The end-to-end ENA build pipeline as one lazy DataFrame lineage.

Reference semantics (ena_build/parse_embl.py:444-570 +
mysql_database.py:50-134) re-expressed Spark-first:

    embl_lines ─ G1/G2 windows ─┬─ records  (P1, F3-F6)
                                └─ cds blocks (P5/P6) ─ P7/P3/P8 ─ F7
                                        │
                 records ⋈ blocks ─ A3/A4 span ─ G4 ordinals ─ A1 sets
                                        │
                 explode protein_ids ⋈ idmapping (J1) ─ A-collect
                                        │
                 J3 fallback-coalesce ─ O1 explode ─ O2 project → ena_tab

Pinned quirks (SURVEY.md §2.10): 1=linear encoding, strict-> circular
gap tie-break, end<start legal, ordinals skip failed blocks, lenient
range regex, same-line Fungi gate, mapping-hit-wins fallback, **no**
global dedup of output rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ena_database_build_spark.functions import embl as E
from ena_database_build_spark.functions.locations import (
    has_range,
    location_ranges,
    resolved_span,
)
from ena_database_build_spark.operators import segmentation as S
from ena_database_build_spark.sources.idmapping import normalize_idmapping

ENA_TAB_COLUMNS = [
    "ena_id",
    "uniprot_id",
    "locus_num",
    "chr_struct",
    "direction",
    "start",
    "end",
]


@dataclass
class EnaBuildResult:
    """The pipeline's output channels, each still lazy, all derived from
    the one ``segmented`` line table (persist it before running several
    of them as separate actions)."""

    segmented: DataFrame
    ena_tab: DataFrame
    rejected_records: DataFrame
    rejected_blocks: DataFrame


def _extract(segmented: DataFrame) -> tuple[DataFrame, DataFrame]:
    """G1/G2 close-out: per-record headers and CDS blocks with their
    location string (P7).

    Both branches read the same ``segmented`` table, but column pruning
    cuts ``segment_lines`` down to a different ``Window`` in each, so
    the only subtree they share is the file exchange below its flags.
    Spark reuses that exchange (``ReusedExchange``): the lines are
    scanned and shuffled once for both branches.
    """
    records = S.extract_records(segmented)
    blocks = S.extract_cds_blocks(segmented).withColumn(
        "loc_str", E.cds_location_string(F.col("loc_parts"))
    )
    return records, blocks


def _join_loci(records: DataFrame, blocks: DataFrame) -> DataFrame:
    """records+blocks -> loci with resolved spans and per-locus id sets."""
    live_records = records.where(
        F.col("reject_reason").isNull() & (F.col("ena_id") != "")
    )
    # F7: blocks with no x..y range are dropped *before* ordinal
    # assignment (quirk §2.10.4) and contribute no xrefs at all.
    parsed = blocks.withColumn("loc_ranges", location_ranges(F.col("loc_str")))
    numbered = S.number_loci(parsed.where(F.size("loc_ranges") > 0))

    # A1: per-locus xref sets were already collect_set'd map-side in
    # extract_cds_blocks.
    with_ids = numbered.select(
        "file",
        "record_idx",
        "locus_num",
        "first_line_no",
        "loc_str",
        "loc_ranges",
        E.strand_direction(F.col("loc_str")).alias("direction"),
        "uniprot_ids",
        "protein_ids",
    )

    # Record join is 1:N on (file, record_idx), hint-free: at corpus
    # scale the record-header relation (one row per chromosome) can
    # reach GBs, so AQE decides from runtime sizes.
    joined = with_ids.join(live_records, ["file", "record_idx"])

    return joined.select(
        "file",
        "record_idx",
        "ena_id",
        "chr_struct",
        "chr_len",
        "locus_num",
        "direction",
        resolved_span(
            F.col("loc_ranges"), F.col("chr_struct"), F.col("chr_len")
        ).alias("span"),
        "uniprot_ids",
        "protein_ids",
    ).select(
        "file",
        "record_idx",
        "ena_id",
        "chr_struct",
        "chr_len",
        "locus_num",
        "direction",
        F.col("span.start").alias("start"),
        F.col("span.end").alias("end"),
        "uniprot_ids",
        "protein_ids",
    )


def parse_loci(
    embl_lines: DataFrame, segmented: DataFrame | None = None
) -> DataFrame:
    """records+blocks -> loci with resolved spans and per-locus id sets.

    Pass ``segmented`` to build on an existing ``segment_lines`` result
    instead of re-segmenting ``embl_lines``.
    """
    if segmented is None:
        segmented = S.segment_lines(embl_lines)
    return _join_loci(*_extract(segmented))


def resolve_uniprot_ids(loci: DataFrame, idmapping: DataFrame) -> DataFrame:
    """J1 + J2 + J3: reverse-map protein ids, falling back to parsed ids.

    * J1 — explode the per-locus ``protein_ids`` set and left-join the
      deduplicated idmapping on ``foreign_id`` (replaces the per-record
      ``IN (...)`` round-trip, mysql_database.py:92-93).  The planner
      and AQE pick broadcast or shuffle join from the mapping's size.
    * J2 — the anti-join/no-match bookkeeping vanishes: unmatched ids
      simply produce no join rows (the reference's ``not in no_match``
      check is provably redundant — SURVEY.md §2.6 J2).
    * J3 — a locus whose protein ids found *any* mapping uses exactly the
      mapped ids (duplicates across protein ids preserved, the reference
      emits one row per list element — parse_embl.py:236-255); otherwise
      it falls back to its parsed ``uniprot_ids``; loci with neither emit
      nothing.
    """
    mapping = normalize_idmapping(idmapping)

    locus_key = ["file", "record_idx", "locus_num"]
    other_cols = [c for c in loci.columns if c not in locus_key]

    # Single consumption of `loci`: explode the protein-id set
    # (explode_outer keeps protein-less loci alive for the fallback),
    # join the mapping, and fold back to locus grain.  The group-by
    # keys extend the pipeline's file-prefixed partitioning, so with a
    # broadcast mapping this whole step adds ZERO exchanges.
    exploded = loci.select(
        *loci.columns, F.explode_outer("protein_ids").alias("foreign_id")
    )
    joined = exploded.join(
        mapping.withColumnRenamed("uniprot_id", "_mapped_id"), "foreign_id", "left"
    )
    # any_value, not first: every exploded row of a locus carries
    # identical non-key values, so ANY value is the right one — encode
    # that invariant structurally instead of leaning on first()'s
    # row-order-dependent determinism surviving future refactors.
    regrouped = joined.groupBy(*locus_key).agg(
        *[F.any_value(c).alias(c) for c in other_cols],
        F.collect_list("_mapped_id").alias("mapped_uniprot_ids"),
    )
    resolved = regrouped.withColumn(
        "resolved_uniprot_ids",
        F.when(
            F.size("mapped_uniprot_ids") > 0, F.col("mapped_uniprot_ids")
        ).otherwise(F.col("uniprot_ids")),
    )
    return resolved.where(F.size("resolved_uniprot_ids") > 0)


def _project_ena_tab(resolved: DataFrame) -> DataFrame:
    """O1+O2: one output row per resolved uniprot id, reference column
    order (parse_embl.py:255)."""
    return resolved.select(
        "file",
        "ena_id",
        F.explode("resolved_uniprot_ids").alias("uniprot_id"),
        "locus_num",
        "chr_struct",
        "direction",
        "start",
        "end",
    ).select("file", *ENA_TAB_COLUMNS)


def build_all(embl_lines: DataFrame, idmapping: DataFrame) -> EnaBuildResult:
    """The whole lineage, segmented and extracted once: ``ena_tab`` and
    the dead-letter channels (SURVEY.md §4.3: the reference
    print-and-skips malformed rows; we surface them as filterable
    DataFrames instead) all read the same records and blocks.

    ``ena_tab`` grain: one row per (locus, resolved uniprot id list
    element); duplicates across overlapping input files are preserved
    (quirk §2.10.8 — the reference never dedups globally).
    """
    segmented = S.segment_lines(embl_lines)
    records, blocks = _extract(segmented)
    ena_tab = _project_ena_tab(
        resolve_uniprot_ids(_join_loci(records, blocks), idmapping)
    )
    rejected_records = records.where(F.col("reject_reason").isNotNull()).select(
        "file", "record_idx", "reject_reason"
    )
    # the dead-letter gate only asks "no x..y range at all" — the
    # pattern-match predicate, not the full parse (locations.has_range
    # is pinned equivalent to size(location_ranges(s)) == 0 negated)
    rejected_blocks = blocks.where(~has_range(F.col("loc_str"))).select(
        "file",
        "record_idx",
        "block_idx",
        F.lit("unparseable_cds_location").alias("reject_reason"),
    )
    return EnaBuildResult(segmented, ena_tab, rejected_records, rejected_blocks)


def build_ena_tab(embl_lines: DataFrame, idmapping: DataFrame) -> DataFrame:
    """Full pipeline: ordered lines + idmapping -> the 7-column table
    (plus ``file``); see ``build_all``."""
    return build_all(embl_lines, idmapping).ena_tab
