"""CDS location descriptors (operators P3, O5, A3, A4).

Two forms of one contract.  ``parse_ranges`` and ``resolve_span`` are
plain Python: the per-file EMBL parse (``operators/segmentation.py``)
calls them once per CDS block.  ``has_range``, ``explode_ranges`` and
``resolved_span_relational`` are Catalyst column expressions for
DataFrames whose location strings are columns (the catalog's rows).

Semantics pinned against the reference:

* range extraction: only ``x..y`` / ``x..>y`` forms contribute ranges;
  single-base (``467``), site (``102.110``) and between-base (``123^124``)
  forms are dropped (reference ena_build/parse_embl.py:40-43, goldens
  tests/regex_test.py:59-95).
* linear span: min/max over the flattened range endpoints
  (ena_build/parse_embl.py:392-396).
* circular span: sort ranges by start, compute inter-range gaps and the
  wrap-around gap; the *first* inner gap strictly greater than every gap
  before it and the wrap gap marks the origin-crossing point, in which
  case ``end < start`` is a legal output (ena_build/parse_embl.py:397-441;
  26 goldens at tests/location_parsing_test.py:17-119).  Ties go to the
  wrap gap (strict ``>`` — quirk SURVEY.md §2.10.2).
"""

from __future__ import annotations

import re
from operator import itemgetter

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Full-match form of the reference pattern r"(\d+)\.\.\>?(\d+)"
# (ena_build/parse_embl.py:43).  Spark's regexp_extract_all pulls a single
# group, so we match the whole token and split endpoints afterwards.
_RANGE_PATTERN = r"(\d+\.\.\>?\d+)"
# re.ASCII: \d is [0-9], as in Java regex
_RANGES = re.compile(_RANGE_PATTERN, re.ASCII).findall


def parse_ranges(loc_str: str) -> list[tuple[int, int]]:
    """P3: every ``x..y`` range of a location string, left to right and
    non-overlapping (``re.findall``).  ``1..>888`` yields (1, 888): the
    partial marker ``>`` is dropped (reference tests/regex_test.py:66,81).
    Endpoints are Python ints, so callers see values beyond int64."""
    out = []
    for m in _RANGES(loc_str):
        start, _, end = m.partition("..")
        out.append((int(start), int(end.lstrip(">"))))
    return out


def resolve_span(
    ranges: list[tuple[int, int]], chr_struct: int, chr_len: int
) -> tuple[int, int] | None:
    """A3+A4: one (start, end) for a CDS's ranges, None when there are
    none (F7 drops those blocks first).

    ``chr_struct`` follows the reference encoding 1=linear, 0=circular
    (the *code's* behavior, not the docstring's — SURVEY.md §2.10.1);
    any nonzero value takes the linear path, like the reference's
    ``if linear_chromosome:`` (ena_build/parse_embl.py:392).
    """
    if not ranges:
        return None
    if chr_struct != 0:
        # min/max over every endpoint, not first-start/last-end, so
        # descending ranges behave like the reference's min()/max()
        return min(map(min, ranges)), max(map(max, ranges))
    r = sorted(ranges, key=itemgetter(0))  # stable, like the reference
    best_gap, pick = (chr_len - r[-1][1]) + (r[0][0] - 1), None
    for i in range(len(r) - 1):
        gap = r[i + 1][0] - r[i][1] - 1
        if gap > best_gap:  # strict: a tie keeps the wrap / earlier gap
            best_gap, pick = gap, i
    if pick is None:
        return r[0][0], r[-1][1]
    return r[pick + 1][0], r[pick][1]


def has_range(loc_str: Column) -> Column:
    """F7 drop predicate: TRUE iff the location string yields at least
    one ``x..y`` range — definitionally ``len(parse_ranges(s)) > 0``,
    expressed as ``rlike`` on the SAME pattern so consumers that only
    gate on parseability never pay the full extract-all (equivalence
    pinned by test)."""
    return loc_str.rlike(_RANGE_PATTERN)


def explode_ranges(df, loc_col: Column, *keep_cols: str):
    """Relational (exploded) form of ``parse_ranges``: one output row
    per ``x..y`` range with LONG ``range_start``/``range_end`` columns
    after the ``keep_cols``.

    Same regex, same non-overlapping left-to-right semantics, same
    partial-marker (``>``) stripping as ``parse_ranges``; the endpoint
    split runs after the explode as plain codegen'd column expressions
    (measured 1.7x faster at sf0.1 than a ``transform`` lambda over
    the extracted array)."""
    matches = F.regexp_extract_all(loc_col, F.lit(_RANGE_PATTERN), 1)
    m = F.col("_m")
    return df.select(*keep_cols, F.explode(matches).alias("_m")).select(
        *keep_cols,
        F.substring_index(m, "..", 1).cast("long").alias("range_start"),
        F.replace(F.substring_index(m, "..", -1), F.lit(">"), F.lit(""))
        .cast("long")
        .alias("range_end"),
    )


def resolved_span_relational(
    ranges_df: DataFrame,
    key_cols: list[str],
    chr_struct_col: str = "chr_struct",
    start_col: str = "start",
    end_col: str = "end",
    chr_len: Column | int = 1000,
) -> DataFrame:
    """A3+A4 over *exploded* range rows — the scale path.

    Input: one row per range ``(key..., chr_struct, start, end)``.
    Output: one row per key ``(key..., chr_struct, start_pos, end_pos)``
    with identical semantics to :func:`resolve_span` except for
    equal-start ties: DataFrame rows carry no document order, so ties
    sort by ``(start, end)`` here, while :func:`resolve_span` keeps
    the list order (the reference's stable sort).  Use the list form
    when tie order is semantic.

    Where :func:`resolve_span` folds one block's list (right when a
    record holds a handful of ranges, as EMBL CDS blocks do), this form
    sorts ranges with one hash-partitioned window and aggregates — no
    per-row array materialization, so a pathological record with
    millions of ranges streams through instead of blowing a row buffer.
    The window and both group-bys share the same partitioning key, so
    the plan carries ONE shuffle of the range rows.
    """
    chr_len = F.lit(chr_len) if isinstance(chr_len, int) else chr_len
    s, e = F.col(start_col).cast("long"), F.col(end_col).cast("long")
    w = Window.partitionBy(*key_cols).orderBy(start_col, end_col)
    w_all = Window.partitionBy(*key_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # one window pass (shared partitioning) carries both the running
    # frame (rn/lag) and the whole-partition max gap, so the pick row
    # is identifiable per-row and ONE aggregation finishes the job —
    # no join-back, no second shuffle.
    sorted_df = ranges_df.select(
        *key_cols,
        F.col(chr_struct_col),
        s.alias("_s"),
        e.alias("_e"),
        F.row_number().over(w).alias("_rn"),
        F.lag(e).over(w).alias("_prev_e"),
        (s - F.lag(e).over(w) - 1).alias("_gap"),
        F.max(s - F.lag(e).over(w) - 1).over(w_all).alias("_max_inner_w"),
    )
    is_pick = F.col("_gap") == F.col("_max_inner_w")
    # min-by-rn among pick rows via min of a (rn, s, prev_e) struct —
    # the strict-> tie rule keeps the FIRST occurrence of the max gap
    pick_struct = F.min(
        F.when(
            is_pick,
            F.struct("_rn", F.col("_s").alias("_ps"), F.col("_prev_e").alias("_pe")),
        )
    )
    joined = sorted_df.groupBy(*key_cols).agg(
        F.max(chr_struct_col).alias(chr_struct_col),
        F.count("*").alias("_n"),
        F.min(F.least(F.col("_s"), F.col("_e"))).alias("_flat_min"),
        F.max(F.greatest(F.col("_s"), F.col("_e"))).alias("_flat_max"),
        F.min("_s").alias("_first_s"),
        F.max_by("_e", "_rn").alias("_last_e"),
        F.max("_gap").alias("_max_inner"),
        (chr_len - F.max_by("_e", "_rn") + F.min("_s") - 1).alias("_wrap_gap"),
        pick_struct["_ps"].alias("_pick_s"),
        pick_struct["_pe"].alias("_pick_prev_e"),
    )
    linear = F.col(chr_struct_col).cast("int") != 0
    wrap_like = (
        (F.col("_n") == 1)
        | F.col("_max_inner").isNull()
        | (F.col("_max_inner") <= F.col("_wrap_gap"))
    )
    return joined.select(
        *key_cols,
        F.col(chr_struct_col),
        F.when(linear, F.col("_flat_min"))
        .when(wrap_like, F.col("_first_s"))
        .otherwise(F.col("_pick_s"))
        .alias("start_pos"),
        F.when(linear, F.col("_flat_max"))
        .when(wrap_like, F.col("_last_e"))
        .otherwise(F.col("_pick_prev_e"))
        .alias("end_pos"),
    )
