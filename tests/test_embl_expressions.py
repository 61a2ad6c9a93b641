"""Golden tests for the EMBL line expressions (P1, P2, P4, F3).

Case data pinned by the reference suite tests/regex_test.py:6-56.
"""

from pyspark.sql import functions as F

from ena_database_build_spark.functions import embl as E


def _bools(spark, lines, col_fn):
    df = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(lines)], "i int, line string"
    )
    rows = df.select("i", col_fn(F.col("line")).alias("v")).collect()
    return [r["v"] for r in sorted(rows, key=lambda r: r["i"])]


ID_CASES = [
    (
        "ID   CP002679; SV 1; circular; genomic DNA; STD; PRO; 1038839 BP.",
        ("CP002679", 0, 1038839, None),
    ),
    (
        "ID   BFMR01000110; SV 1; linear; genomic DNA; STD; PRO; 11440 BP.",
        ("BFMR01000110", 1, 11440, None),
    ),
    (
        "ID   HC710378; SV 1; XXX; protein; PRT; PRO; 409 BP.",
        ("", -1, 0, "unknown_topology"),
    ),
    ("FT   source          1..478325", ("", -1, 0, "ill_formatted_id")),
    (
        "ID   CP002679; SV 1; circular; genomic DNA; STD; PRO;",
        ("", -1, 0, "ill_formatted_id"),
    ),
]


def test_id_line_parse_values(spark):
    cases = ID_CASES
    df = spark.createDataFrame(
        [(i, line) for i, (line, _) in enumerate(cases)], "i int, line string"
    )
    rows = {
        r["i"]: r["p"]
        for r in df.select("i", E.parse_id_line(F.col("line")).alias("p")).collect()
    }
    for i, (line, (ena_id, chr_struct, chr_len, reason)) in enumerate(cases):
        p = rows[i]
        assert (
            p["ena_id"],
            p["chr_struct"],
            p["chr_len"],
            p["reject_reason"],
        ) == (ena_id, chr_struct, chr_len, reason), line


FT_BLOCK_LINES = [
    "ID   ABZA01000001; SV 1; linear; genomic DNA; WGS; PRO; 478325 BP.",
    "XX",
    "FT   source          1..478325",
    'FT                   /organism="Wolbachia endosymbiont of Culex quinquefasciatus',
    'FT                   JHB"',
    'FT                   /db_xref="taxon:569881"',
    "FT   gene            <1..1701",
    'FT                   /locus_tag="C1A_288"',
    "FT   CDS             <1..1701",
]


def test_feature_start_goldens(spark):
    expected = [False, False, True, False, False, False, True, False, True]
    assert _bools(spark, FT_BLOCK_LINES, E.is_feature_start) == expected


XREF_LINES = [
    "FT   CDS             <1..1701",
    'FT                   /db_xref="InterPro:IPR023614"',
    'FT                   /db_xref="UniProtKB/TrEMBL:B6Y618"',
    'FT                   /protein_id="EEB56106.1"',
    "FT   CDS             complement(1822..1956)",
    'FT                   /locus_tag="C1A_289"',
    'FT                   /db_xref="UniProtKB/TrEMBL:B6Y619"',
    'FT                   /protein_id="EEB56107.1"',
    'FT                   /translation="MLKYNVSDDDGKMDPSVKHWDDTIYYANCHNFRTAVTGMTLLIV" ',
]


def test_xref_goldens(spark):
    uniprot = _bools(spark, XREF_LINES, E.uniprot_id)
    protein = _bools(spark, XREF_LINES, E.protein_id)
    assert uniprot == [None, None, "B6Y618", None, None, None, "B6Y619", None, None]
    assert protein == [
        None,
        None,
        None,
        "EEB56106.1",
        None,
        None,
        None,
        "EEB56107.1",
        None,
    ]


FUNGI_CASES = [
    ("OC   Eukaryota; Fungi; Dikarya; Ascomycota;", False),
    ("OC   Eukaryota; Metazoa; Chordata;", True),
    ("OC   Bacteria; Pseudomonadota;", False),
    ("OC   Viruses; Duplodnaviria;", False),
    # gate requires " Fungi" with leading space on the same line
    ("OC   Eukaryota; NotFungi;", True),
]


def test_fungi_gate(spark):
    cases = FUNGI_CASES
    got = _bools(spark, [c[0] for c in cases], E.is_drop_taxonomy_line)
    assert got == [c[1] for c in cases]


ID_CASES_EXTRA = [
    # a non-ASCII digit in the length: \d is ASCII-only in Java regex and
    # in the pass's re.ASCII patterns, so both reject the line
    "ID   ARB0001; SV 1; linear; genomic DNA; STD; PRO; 1\u0663 BP.",
    # a length beyond int64
    "ID   BIG0001; SV 1; linear; genomic DNA; STD; PRO; 99999999999999999999 BP.",
]
# U+2028 inside the `.*` span: Java's `.` stops at it, Python's does not
U2028_LINE = "ID   LS0001; SV 1; linear; genomic\u2028DNA; STD; PRO; 700 BP."


def _all_golden_lines():
    return [
        *(line for line, _ in ID_CASES),
        *FT_BLOCK_LINES,
        *XREF_LINES,
        *(line for line, _ in FUNGI_CASES),
        *ID_CASES_EXTRA,
    ]


def test_pass_classifiers_match_column_expressions(spark):
    """The per-file parse's Python classifiers and the catalog's Column
    expressions give the same answer on every golden line."""
    from ena_database_build_spark.operators import segmentation as S

    lines = _all_golden_lines()
    df = spark.createDataFrame(list(enumerate(lines)), "i int, line string")
    line = F.col("line")
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            E.parse_id_line(line).alias("id"),
            E.is_feature_start(line).alias("ft_start"),
            E.is_drop_taxonomy_line(line).alias("drop_tax"),
            E.protein_id(line).alias("protein_id"),
            E.uniprot_id(line).alias("uniprot_id"),
        ).collect()
    }
    for i, text in enumerate(lines):
        r = got[i]
        assert S.parse_id(text) == tuple(r["id"]), text
        assert S.is_feature_start(text) == r["ft_start"], text
        assert S.is_drop_taxonomy_line(text) == r["drop_tax"], text
        assert S.protein_id(text) == r["protein_id"], text
        assert S.uniprot_id(text) == r["uniprot_id"], text
    arb, big = ID_CASES_EXTRA
    assert S.parse_id(arb)[3] == "ill_formatted_id"
    assert S.parse_id(big)[3] == "chr_len_out_of_range"


def test_u2028_in_id_line_follows_python_re(spark):
    """The one pinned divergence: the pass parses the line, as the
    reference's Python ``re`` does; the Java-regex Column rejects it."""
    from ena_database_build_spark.operators import segmentation as S

    assert S.parse_id(U2028_LINE) == ("LS0001", 1, 700, None)
    df = spark.createDataFrame([(U2028_LINE,)], "line string")
    col = df.select(E.parse_id_line(F.col("line")).alias("p")).first()["p"]
    assert col["reject_reason"] == "ill_formatted_id"
