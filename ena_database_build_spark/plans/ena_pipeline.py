"""The end-to-end ENA build pipeline as one lazy DataFrame lineage.

Reference semantics (ena_build/parse_embl.py:444-570 +
mysql_database.py:50-134) re-expressed Spark-first:

    member listing ─ coalesce ─ per-file open + gunzip + parse (mapInArrow)
                                        │
        ┌─ records (P1, F3-F6)          ├─ cds blocks: P5-P8, F7, G4
        │                               │   ordinals, A3/A4 spans, A1 sets
        ├─ rejected_records             ├─ rejected_blocks
        └─ rejected_files (bad gzip)    │
          explode protein_ids ⋈ idmapping as read (J1)
                                        │
           locus regroup: set of matched (foreign_id, uniprot_id) pairs
                                        │
                 J3 fallback-coalesce ─ O1 explode ─ O2 project → ena_tab

The parse is one Python pass per file (``operators/segmentation.py``);
everything after it stays in Catalyst.

Pinned quirks (SURVEY.md §2.10): 1=linear encoding, strict-> circular
gap tie-break, end<start legal, ordinals skip failed blocks, lenient
range regex, same-line Fungi gate, mapping-hit-wins fallback, **no**
global dedup of output rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ena_database_build_spark.operators import segmentation as S

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
    the one ``segmented`` parse (persist it before running several of
    them as separate actions)."""

    segmented: DataFrame
    ena_tab: DataFrame
    rejected_records: DataFrame
    rejected_blocks: DataFrame
    rejected_files: DataFrame


def _loci(blocks: DataFrame) -> DataFrame:
    """The parsed CDS blocks of accepted records: one row per locus with
    its resolved span and xref sets."""
    return blocks.where(
        F.col("reject_reason").isNull() & F.col("ena_id").isNotNull()
    ).select(
        "file",
        "record_idx",
        "ena_id",
        "chr_struct",
        "locus_num",
        "direction",
        "start",
        "end",
        "uniprot_ids",
        "protein_ids",
    )


def parse_loci(
    embl_lines: DataFrame, segmented: DataFrame | None = None
) -> DataFrame:
    """Loci with resolved spans and per-locus id sets.

    Pass ``segmented`` to build on an existing ``segment_lines`` result
    instead of parsing ``embl_lines`` again.
    """
    if segmented is None:
        segmented = S.segment_lines(embl_lines)
    return _loci(S.extract_cds_blocks(segmented))


def resolve_uniprot_ids(loci: DataFrame, idmapping: DataFrame) -> DataFrame:
    """J1 + J2 + J3: reverse-map protein ids, falling back to parsed ids.

    * J1 — explode the per-locus ``protein_ids`` set and left-join the
      idmapping as read on ``foreign_id`` (replaces the per-record
      ``IN (...)`` round-trip, mysql_database.py:92-93).  The planner
      and AQE pick broadcast or shuffle join from the mapping's size.
      The table is never deduplicated as a whole: like the reference's
      ``{foreign_id -> set(uniprot_id)}`` fold (mysql_database.py:123-127),
      the locus regroup keeps each matched (foreign_id, uniprot_id) pair
      once, so only the pairs a build matches are deduplicated.
    * J2 — the anti-join/no-match bookkeeping vanishes: unmatched ids
      simply produce no join rows (the reference's ``not in no_match``
      check is provably redundant — SURVEY.md §2.6 J2).
    * J3 — a locus whose protein ids found *any* mapping uses exactly the
      mapped ids (one uniprot id reached from two protein ids is kept
      twice, the reference emits one row per list element —
      parse_embl.py:236-255); otherwise it falls back to its parsed
      ``uniprot_ids``; loci with neither emit nothing.
    """
    locus_key = ["file", "record_idx", "locus_num"]
    other_cols = [c for c in loci.columns if c not in locus_key]

    # Single consumption of `loci`: explode the protein-id set
    # (explode_outer keeps protein-less loci alive for the fallback),
    # join the mapping, and fold back to locus grain (one exchange on
    # the locus key; the mapping join adds its own unless broadcast).
    exploded = loci.select(
        *loci.columns, F.explode_outer("protein_ids").alias("foreign_id")
    )
    joined = exploded.join(
        idmapping.withColumnRenamed("uniprot_id", "_mapped_id"), "foreign_id", "left"
    )
    # any_value, not first: every exploded row of a locus carries
    # identical non-key values, so ANY value is the right one — encode
    # that invariant structurally instead of leaning on first()'s
    # row-order-dependent determinism surviving future refactors.
    # The matched pairs are a set (collect_set skips the NULL of an
    # unmatched id); their `_mapped_id` field is the locus's id list.
    matched = F.when(
        F.col("_mapped_id").isNotNull(), F.struct("foreign_id", "_mapped_id")
    )
    regrouped = joined.groupBy(*locus_key).agg(
        *[F.any_value(c).alias(c) for c in other_cols],
        F.collect_set(matched).getField("_mapped_id").alias("mapped_uniprot_ids"),
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
    """The whole lineage, parsed once: ``ena_tab`` and the dead-letter
    channels (SURVEY.md §4.3: the reference print-and-skips malformed
    rows; we surface them as filterable DataFrames instead) all read the
    same parse: records, CDS blocks and the members whose gzip stream is
    cut or corrupt.

    ``ena_tab`` grain: one row per (locus, resolved uniprot id list
    element); duplicates across overlapping input files are preserved
    (quirk §2.10.8 — the reference never dedups globally).
    """
    segmented = S.segment_lines(embl_lines)
    records = S.extract_records(segmented)
    blocks = S.extract_cds_blocks(segmented)
    ena_tab = _project_ena_tab(resolve_uniprot_ids(_loci(blocks), idmapping))
    rejected_records = records.where(F.col("reject_reason").isNotNull()).select(
        "file", "record_idx", "reject_reason"
    )
    rejected_blocks = blocks.where(F.col("reject_reason").isNotNull()).select(
        "file", "record_idx", "block_idx", "reject_reason"
    )
    rejected_files = segmented.where(F.col("record_idx").isNull()).select(
        "file", "reject_reason"
    )
    return EnaBuildResult(
        segmented, ena_tab, rejected_records, rejected_blocks, rejected_files
    )


def build_ena_tab(embl_lines: DataFrame, idmapping: DataFrame) -> DataFrame:
    """Full pipeline: ordered lines + idmapping -> the 7-column table
    (plus ``file``); see ``build_all``."""
    return build_all(embl_lines, idmapping).ena_tab
