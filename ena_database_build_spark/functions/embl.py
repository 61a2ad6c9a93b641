"""EMBL flat-file line expressions (operators F1-F7, P1-P2, P4-P9).

Each function takes/returns Columns so Catalyst can push the cheap
prefix predicates to the scan and keep every regex inside whole-stage
codegen; the catalog's EMBL rows use them.  The pattern constants are
also what the per-file parse (``operators/segmentation.py``) compiles
with Python ``re``; the two are pinned to classify the golden lines
alike.  Patterns are behavior-pinned against the reference's compiled
regexes (ena_build/parse_embl.py:16-47) and their golden tests
(tests/regex_test.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# P1 — ID line: (ena_id, topology, length_bp)  (parse_embl.py:16)
ID_LINE_PATTERN = r"^ID\s+(\w+);\s\w+\s\w+;\s(\w+);.*;\s(\d+)\sBP"
# P2 — xref qualifiers (parse_embl.py:21-23); one pattern per alternative
# because Spark's regexp_extract addresses a single group cleanly.
PROTEIN_ID_PATTERN = r'^FT\s+/protein_id="([a-zA-Z0-9\.]+)"'
UNIPROT_XREF_PATTERN = r'^FT\s+/db_xref="UniProtKB/[a-zA-Z0-9-]+:(\w+)"'
# P4 — start of any feature block (parse_embl.py:47)
FT_START_PATTERN = r"^FT\s\s\s[a-zA-Z0-9-]"
# F1 — taxonomic-division filename filter for sequence/ dirs
# (dask_tasks.py:78-85)
SEQUENCE_DIVISION_PATTERN = r"_(ENV|PRO|FUN|PHG)_"
# P9 — output-partition naming from the directory layout
# (dask_tasks.py:138-148)
SOURCE_DIR_PATTERN = r"(wgs)/(\w*)/(\w*)|(sequence)/(\w*)"


def _nullif_empty(c: Column) -> Column:
    return F.when(c == "", F.lit(None)).otherwise(c)


# --- P1 + F4/F5: ID-line parsing with permissive-skip ----------------------

def parse_id_line(line: Column) -> Column:
    """P1 -> STRUCT<ena_id STRING, chr_struct INT, chr_len LONG>.

    Reproduces ``process_id_line`` (parse_embl.py:309-361) including the
    dead-letter encoding: regex miss, unknown topology or a length beyond
    int64 => ``ena_id=''``, ``chr_struct=-1``, ``chr_len=0``.  Topology
    encoding is 1=linear / 0=circular per the code (SURVEY.md §2.10.1).
    """
    ena_id = F.regexp_extract(line, ID_LINE_PATTERN, 1)
    topo = F.regexp_extract(line, ID_LINE_PATTERN, 2)
    chr_len = F.regexp_extract(line, ID_LINE_PATTERN, 3).try_cast("long")
    matched = ena_id != ""
    known_topo = topo.isin("linear", "circular")
    ok = matched & known_topo & chr_len.isNotNull()
    return F.struct(
        F.when(ok, ena_id).otherwise(F.lit("")).alias("ena_id"),
        F.when(ok, F.when(topo == "linear", 1).otherwise(0))
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("chr_struct"),
        F.when(ok, chr_len).otherwise(F.lit(0)).alias("chr_len"),
        # dead-letter discriminator for the _rejected channel
        F.when(~matched, F.lit("ill_formatted_id"))
        .when(~known_topo, F.lit("unknown_topology"))
        .when(chr_len.isNull(), F.lit("chr_len_out_of_range"))
        .alias("reject_reason"),
    )


# --- F3: Fungi gate on OC lines (parse_embl.py:527-529) --------------------

def is_drop_taxonomy_line(line: Column) -> Column:
    """True on an ``OC`` line naming Eukaryota without `` Fungi`` on the
    same line — such a line voids the whole active record."""
    return (
        line.startswith("OC   ")
        & line.contains("Eukaryota")
        & ~line.contains(" Fungi")
    )


# --- P4/P5/P6: feature-block structure -------------------------------------

def is_feature_start(line: Column) -> Column:
    return line.rlike(FT_START_PATTERN)


def is_cds_head(line: Column) -> Column:
    return line.startswith("FT   CDS ")


def is_qualifier_continuation(line: Column) -> Column:
    return line.startswith("FT    ")


# --- P2: xref extraction ----------------------------------------------------

def protein_id(line: Column) -> Column:
    return _nullif_empty(F.regexp_extract(line, PROTEIN_ID_PATTERN, 1))


def uniprot_id(line: Column) -> Column:
    return _nullif_empty(F.regexp_extract(line, UNIPROT_XREF_PATTERN, 1))


# --- P7/P8: CDS location string ---------------------------------------------

def cds_location_string(block_lines: Column) -> Column:
    """P7: given ARRAY<STRING> of a CDS block's lines (in order), isolate
    the location descriptor — join lines, cut at the first ``/``
    (qualifiers), strip ``FT ``/``CDS ``/newlines/spaces
    (parse_embl.py:129-132)."""
    joined = F.substring_index(F.concat_ws("\n", block_lines), "/", 1)
    out = joined
    for sub in ["FT ", "CDS ", "\n", " "]:
        out = F.replace(out, F.lit(sub), F.lit(""))
    return out


def strand_direction(loc_str: Column) -> Column:
    """P8: 0 if the location string mentions ``complement`` else 1
    (parse_embl.py:147)."""
    return F.when(loc_str.contains("complement"), 0).otherwise(1).cast("int")


# --- F1/P9: path-derived predicates and partition names --------------------

def matches_sequence_division(file_path: Column) -> Column:
    """F1: when ``sequence`` appears in the *directory* path, keep only
    files whose name carries an uppercase ``_(ENV|PRO|FUN|PHG)_``
    division tag — case-sensitive, exactly like the reference
    (dask_tasks.py:82-85)."""
    dir_part = F.regexp_replace(file_path, r"/[^/]*$", "")
    name_part = F.substring_index(file_path, "/", -1)
    return ~dir_part.contains("sequence") | name_part.rlike(
        SEQUENCE_DIVISION_PATTERN
    )


def source_dir_name(file_path: Column) -> Column:
    """P9: ``wgs/public/wds/x.dat.gz`` -> ``wgs-public-wds``;
    ``sequence/con/y.dat.gz`` -> ``sequence-con`` (dask_tasks.py:138-148)."""
    wgs = F.concat_ws(
        "-",
        F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 1),
        F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 2),
        F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 3),
    )
    seq = F.concat_ws(
        "-",
        F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 4),
        F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 5),
    )
    return F.when(F.regexp_extract(file_path, SOURCE_DIR_PATTERN, 1) != "", wgs).otherwise(seq)


def file_stem(file_path: Column) -> Column:
    return F.regexp_extract(file_path, r"/(\w*)\.dat\.gz", 1)
