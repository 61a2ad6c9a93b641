"""Golden tests for location extraction (P3) and span resolution (A3/A4).

Case data is the behavior spec pinned by the reference's suites
(tests/location_parsing_test.py:17-119 — 26 parametrized cases with
chromosome_length=1000, encoding 1=linear/0=circular — and
tests/regex_test.py:59-95 — 15 location strings).  ``parse_ranges`` and
``resolve_span`` are what the per-file parse calls; the Column forms
(``has_range``, ``explode_ranges``, ``resolved_span_relational``) are
pinned to agree with them.
"""

from pyspark.sql import functions as F

from ena_database_build_spark.functions.locations import (
    parse_ranges,
    resolve_span,
)

LINEAR = 1
CIRCULAR = 0
CHR_LEN = 1000

SPAN_CASES = [
    ("lin_simple", [(1, 700)], LINEAR, (1, 700)),
    ("circ_simple", [(1, 700)], CIRCULAR, (1, 700)),
    ("lin_simple_join", [(1, 100), (100, 202)], LINEAR, (1, 202)),
    ("circ_simple_join", [(1, 100), (100, 202)], CIRCULAR, (1, 202)),
    ("lin_unsorted_join", [(491, 516), (269, 457)], LINEAR, (269, 516)),
    ("circ_unsorted_join", [(491, 516), (269, 457)], CIRCULAR, (269, 516)),
    (
        "lin_many_joins",
        [(491, 516), (110, 220), (269, 457), (518, 600)],
        LINEAR,
        (110, 600),
    ),
    (
        "circ_many_joins",
        [(491, 516), (110, 220), (269, 457), (518, 600)],
        CIRCULAR,
        (110, 600),
    ),
    ("lin_full_cov", [(1, 1000)], LINEAR, (1, 1000)),
    ("circ_full_cov", [(1, 1000)], CIRCULAR, (1, 1000)),
    ("lin_join_full_cov", [(1, 500), (501, 1000)], LINEAR, (1, 1000)),
    ("circ_join_full_cov", [(1, 500), (501, 1000)], CIRCULAR, (1, 1000)),
    ("lin_spans_boundary", [(1, 70), (900, 1000)], LINEAR, (1, 1000)),
    ("circ_spans_boundary", [(1, 70), (900, 1000)], CIRCULAR, (900, 70)),
    ("lin_skip_start", [(25, 70), (900, 1000)], LINEAR, (25, 1000)),
    ("circ_skip_start", [(25, 70), (900, 1000)], CIRCULAR, (900, 70)),
    ("lin_skip_end", [(1, 70), (900, 999)], LINEAR, (1, 999)),
    ("circ_skip_end", [(1, 70), (900, 999)], CIRCULAR, (900, 70)),
    ("lin_skip_termini", [(25, 70), (900, 999)], LINEAR, (25, 999)),
    ("circ_skip_termini", [(25, 70), (900, 999)], CIRCULAR, (900, 70)),
    ("lin_gap1", [(1, 500), (502, 1000)], LINEAR, (1, 1000)),
    ("circ_gap1", [(1, 500), (502, 1000)], CIRCULAR, (502, 500)),
    (
        "lin_equiv_gaps",
        [(100, 199), (300, 399), (500, 599), (700, 799), (900, 999)],
        LINEAR,
        (100, 999),
    ),
    (
        "circ_equiv_gaps",
        [(100, 199), (300, 399), (500, 599), (700, 799), (900, 999)],
        CIRCULAR,
        (100, 999),
    ),
    (
        "lin_equiv_gaps_wrap99",
        [(99, 199), (300, 399), (500, 599), (700, 799), (900, 999)],
        LINEAR,
        (99, 999),
    ),
    (
        "circ_equiv_gaps_wrap99",
        [(99, 199), (300, 399), (500, 599), (700, 799), (900, 999)],
        CIRCULAR,
        (300, 199),
    ),
]


def test_resolved_span_goldens():
    for case_id, ranges, struct, expected in SPAN_CASES:
        assert resolve_span(ranges, struct, CHR_LEN) == expected, case_id


LOCATION_STRING_CASES = [
    ("J00194.1:100..202", [(100, 202)]),
    ("467", []),
    ("340..565", [(340, 565)]),
    ("<345..500", [(345, 500)]),
    ("<1..888", [(1, 888)]),
    ("1..>888", [(1, 888)]),
    ("102.110", []),
    ("123^124", []),
    ("join(12..78,134..202)", [(12, 78), (134, 202)]),
    ("join(12..78,1..3)", [(12, 78), (1, 3)]),
    ("complement(34..126)", [(34, 126)]),
    ("complement(join(2691..4571,4918..5163))", [(2691, 4571), (4918, 5163)]),
    ("complement(join(1,2691..4571,4918..5163))", [(2691, 4571), (4918, 5163)]),
    (
        "join(complement(4918..5163),complement(2691..4571))",
        [(4918, 5163), (2691, 4571)],
    ),
    ("join(1..100,J00194.1:100..202)", [(1, 100), (100, 202)]),
]


def test_location_ranges_goldens():
    for loc, expected in LOCATION_STRING_CASES:
        assert parse_ranges(loc) == expected, loc


def test_resolved_span_null_on_empty():
    assert resolve_span([], 1, 100) is None


def test_resolved_span_relational_matches_goldens(spark):
    """The exploded-rows resolver (scale path) must agree with the
    array resolver on every golden case."""
    from ena_database_build_spark.functions.locations import (
        resolved_span_relational,
    )

    rows = [
        (case_id, struct, s, e)
        for case_id, ranges, struct, _ in SPAN_CASES
        for s, e in ranges
    ]
    df = spark.createDataFrame(
        rows, "case_id string, chr_struct int, start long, end long"
    )
    out = {
        r["case_id"]: (r["start_pos"], r["end_pos"])
        for r in resolved_span_relational(
            df, ["case_id"], chr_len=CHR_LEN
        ).collect()
    }
    for case_id, _, _, expected in SPAN_CASES:
        assert out[case_id] == expected, case_id


def test_explode_ranges_matches_array_form(spark):
    """The exploded relational form and ``parse_ranges`` must extract
    identical ranges from identical strings (same regex, same '>'
    stripping), including no-match and NULL rows producing nothing."""
    from ena_database_build_spark.functions.locations import explode_ranges

    rows = [
        (1, "1..>888,12..34"),
        (2, "join(5..10,20..>30)"),
        (3, "no ranges here"),
        (4, None),
        (5, "7..8"),
    ]
    df = spark.createDataFrame(rows, "id long, loc string")
    via_python = [
        (i, s, e) for i, loc in rows for s, e in parse_ranges(loc or "")
    ]
    via_explode = explode_ranges(df, F.col("loc"), "id").collect()
    assert sorted(via_python) == sorted(map(tuple, via_explode))
    assert {r["id"] for r in via_explode} == {1, 2, 5}


def test_has_range_equals_nonempty_parse(spark):
    """has_range must be definitionally len(parse_ranges(s)) > 0 —
    checked over strings covering every parse edge the extractor has
    goldens for (no-range single base, partial marker, multi-range,
    NULL, empty, bare dots)."""
    from ena_database_build_spark.functions.locations import has_range

    vals = [
        "123", "1..2", "1..>2", "..", "a..b", "", None,
        "join(1..5,7..>9)", "complement(88..99)", "5.." , "..7",
        "12..x", "x..12", "0..0",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "loc string")
    got = df.select("loc", has_range(F.col("loc")).alias("h")).collect()
    for r in got:
        assert bool(r["h"] or False) == bool(parse_ranges(r["loc"] or "")), r["loc"]
