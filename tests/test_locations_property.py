"""Property-based check of the span resolvers.

Hypothesis generates arbitrary range multisets (including malformed
``end < start`` inputs and duplicate/overlapping ranges); the per-file
parse's ``resolve_span`` and the relational Spark resolver must agree
with an independent Python model of the
documented algorithm (SURVEY.md §2.5 A3/A4: linear = min/max over
flattened endpoints; circular = sort by (start, end), largest inner
gap strictly greater than the wrap gap marks the origin crossing,
first occurrence wins).
"""

from hypothesis import given, settings, strategies as st

from ena_database_build_spark.functions.locations import (
    resolve_span,
    resolved_span_relational,
)

CHR_LEN = 1000


def span_model(ranges, chr_struct, chr_len=CHR_LEN, stable_by_start=True):
    """``stable_by_start=True`` models the reference's (and
    ``resolve_span``'s) stable sort on start; ``False`` models the relational
    resolver's (start, end) tie order."""
    if chr_struct != 0:
        flat = [v for r in ranges for v in r]
        return min(flat), max(flat)
    rs = sorted(ranges, key=(lambda t: t[0]) if stable_by_start else None)
    gaps = [rs[i + 1][0] - rs[i][1] - 1 for i in range(len(rs) - 1)]
    wrap = (chr_len - rs[-1][1]) + (rs[0][0] - 1)
    if not gaps or max(gaps) <= wrap:
        return rs[0][0], rs[-1][1]
    i = gaps.index(max(gaps))
    return rs[i + 1][0], rs[i][1]


range_strategy = st.tuples(
    st.integers(min_value=1, max_value=CHR_LEN),
    st.integers(min_value=1, max_value=CHR_LEN),
)
case_strategy = st.tuples(
    st.lists(range_strategy, min_size=1, max_size=6),
    st.integers(min_value=0, max_value=1),
)


@settings(max_examples=8, deadline=None)
@given(st.lists(case_strategy, min_size=1, max_size=40))
def test_resolvers_match_model(spark, cases):
    got_list = {
        i: resolve_span([tuple(r) for r in ranges], struct, CHR_LEN)
        for i, (ranges, struct) in enumerate(cases)
    }
    flat_rows = [
        (i, struct, s, e)
        for i, (ranges, struct) in enumerate(cases)
        for s, e in ranges
    ]
    fdf = spark.createDataFrame(
        flat_rows, "case_id int, chr_struct int, start long, end long"
    )
    got_rel = {
        r["case_id"]: (r["start_pos"], r["end_pos"])
        for r in resolved_span_relational(
            fdf, ["case_id"], chr_len=CHR_LEN
        ).collect()
    }
    for i, (ranges, struct) in enumerate(cases):
        tups = [tuple(r) for r in ranges]
        want_arr = span_model(tups, struct, stable_by_start=True)
        want_rel = span_model(tups, struct, stable_by_start=False)
        assert got_list[i] == want_arr, (i, ranges, struct)
        assert got_rel[i] == want_rel, (i, ranges, struct)
