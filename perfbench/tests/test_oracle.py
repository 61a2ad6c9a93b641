"""The oracle on hand-made records, and the generator's determinism.

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
REPO = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from gen import Cds, Plant, PlantedFile, Record  # noqa: E402
from oracle import expected, resolve_span  # noqa: E402


def _span_cases():
    """The repository's 26 pinned location cases (tests/test_locations.py)."""
    spec = importlib.util.spec_from_file_location(
        "pinned_locations", REPO / "tests" / "test_locations.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.SPAN_CASES, mod.CHR_LEN


SPAN_CASES, CHR_LEN = _span_cases()


def test_pinned_case_count():
    assert len(SPAN_CASES) == 26


@pytest.mark.parametrize("case", SPAN_CASES, ids=[c[0] for c in SPAN_CASES])
def test_span_rule_matches_pinned_cases(case):
    _, ranges, chr_struct, want = case
    assert resolve_span(ranges, chr_struct, CHR_LEN) == want


def _fixture_plant() -> Plant:
    """tests/fixtures/embl_fixtures.py, planted by hand: FILE_WGS,
    FILE_EDGE, FILE_SEQUENCE_PRO and the filtered FILE_SEQUENCE_OTHER."""
    wgs = PlantedFile("wgs/public/abz/ABZA01.dat.gz", True, "wgs-public-abz", [
        Record(1, "ABZA01000001", None, 1, 1000, [
            Cds(3, [(340, 565)], False, ["EEB56106.1"], ["B6Y618"])]),
        Record(2, "ABZA01000002", None, 0, 1000, [
            Cds(5, [(900, 1000), (1, 70)], True, ["EEB56107.1"], ["B6Y700"])]),
        Record(3, "ABZA01000003", None, 1, 2000, [
            Cds(6, [], False, ["AAA0.1"], []),
            Cds(7, [(100, 200)], False, [], []),
            Cds(8, [(250, 300), (350, 400)], False, ["AAA1.1", "AAA2.1"], [])]),
    ])
    edge = PlantedFile("wgs/public/edg/EDGE01.dat.gz", True, "wgs-public-edg", [
        Record(1, "EDGE0001", None, 1, 3000, [
            Cds(1, [(10, 20)], False, [], ["E00001"]),
            Cds(3, [(50, 60)], True, [], ["E00002"])]),
        Record(2, "EDGE0002", None, 1, 500, []),
        Record(3, "EDGE0003", None, 0, 100, [
            Cds(4, [(40, 80), (40, 45), (90, 100)], False, [], ["E00004"]),
            Cds(5, [(90, 100), (1, 10)], False, [], ["E00003"])]),
    ])
    seq = PlantedFile("sequence/pro/rel_std_PRO_01_r138.dat.gz", True, "sequence-pro", [
        Record(1, "EUK0001", "non_fungi_eukaryote", 1, 5000, [
            Cds(1, [(1, 100)], False, ["EEB56106.1"], [])]),
        Record(2, "FUN0001", None, 1, 5000, [
            Cds(2, [(1, 100), (100, 202)], False, ["CCC1.1"], [])]),
        Record(3, "", "unknown_topology", -1, 0, [
            Cds(3, [(1, 50)], False, ["AAA1.1"], [])]),
        Record(4, "", "ill_formatted_id", -1, 0, [
            Cds(4, [(1, 50)], False, ["AAA1.1"], [])]),
        Record(5, "SEQ0001", None, 1, 900, [
            Cds(5, [(1, 888)], False, [], ["Q00001"])]),
    ])
    other = PlantedFile("sequence/con/rel_std_con_01_r138.dat.gz", False,
                        "sequence-con", [
        Record(1, "CON0001", None, 1, 500, [
            Cds(1, [(10, 20)], False, [], ["ZZ9999"])]),
    ])
    idmapping = [("EEB56106.1", "B6Y618"), ("EEB56106.1", "B6Y001"),
                 ("AAA1.1", "X1"), ("AAA2.1", "X1"), ("CCC1.1", "Y1"),
                 ("UNUSED.1", "Z9")]
    return Plant("fixture", 0, [wgs, edge, seq, other], idmapping, 0, "wgs/public/abz")


def test_oracle_reproduces_reference_golden():
    """The committed golden was produced by the reference parser."""
    fixtures = importlib.util.spec_from_file_location(
        "embl_fixtures", REPO / "tests" / "fixtures" / "embl_fixtures.py")
    mod = importlib.util.module_from_spec(fixtures)
    fixtures.loader.exec_module(mod)
    exp = expected(_fixture_plant())
    got = sorted(tuple(r[1:]) for r in exp.rows.elements())
    want = sorted(tuple(str(v) for v in row) for row in mod.EXPECTED_ENA_TAB)
    assert got == want


def test_oracle_dead_letters_and_filter():
    exp = expected(_fixture_plant())
    seq = "sequence/pro/rel_std_PRO_01_r138.dat.gz"
    assert set(exp.rejected_records) == {
        (seq, "1", "non_fungi_eukaryote"),
        (seq, "3", "unknown_topology"),
        (seq, "4", "ill_formatted_id"),
    }
    # blocks of rejected records still reach the block channel
    assert set(exp.rejected_blocks) == {
        ("wgs/public/abz/ABZA01.dat.gz", "3", "6", "unparseable_cds_location"),
    }
    assert exp.filtered_ena_ids == {"CON0001"}
    assert all(r[1] != "CON0001" for r in exp.rows)


def test_oracle_slice_and_ordinals():
    exp = expected(_fixture_plant(), under="wgs/public/abz")
    # the unparseable block takes no ordinal: the join is locus 2
    assert {(r[1], r[2], r[3]) for r in exp.rows} == {
        ("ABZA01000001", "B6Y001", "1"), ("ABZA01000001", "B6Y618", "1"),
        ("ABZA01000002", "B6Y700", "1"), ("ABZA01000003", "X1", "2"),
    }
    # the uniprot id reached from two protein ids is kept twice
    assert sum(n for r, n in exp.rows.items() if r[2] == "X1") == 2


def test_span_rule_tie_goes_to_wrap_gap():
    # inner gap 100 - 50 - 1 = 49 equals the wrap gap (1000-951)+(1-1) = 49
    assert resolve_span([(1, 50), (100, 951)], 0, 1000) == (1, 951)
    assert resolve_span([(1, 50), (100, 950)], 0, 1000) == (1, 950)
    assert resolve_span([(1, 50), (101, 952)], 0, 1000) == (101, 50)


@pytest.mark.parametrize("workload", sorted(gen.SHAPES))
def test_generator_is_deterministic(tmp_path, workload):
    a = gen.generate(workload, 5, "tiny", tmp_path / "a")
    b = gen.generate(workload, 5, "tiny", tmp_path / "b")
    c = gen.generate(workload, 6, "tiny", tmp_path / "c")
    assert a.files == b.files and a.idmapping == b.idmapping
    assert a.files != c.files
    for f in a.files:
        assert (tmp_path / "a" / "corpus" / f.path).read_bytes() == (
            tmp_path / "b" / "corpus" / f.path).read_bytes()
