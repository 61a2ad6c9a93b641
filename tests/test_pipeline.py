"""End-to-end pipeline test: fixture ``.dat.gz`` corpus -> ena_tab,
compared against the golden output of the *reference* implementation
(tests/fixtures/embl_fixtures.EXPECTED_ENA_TAB, regenerated via
tests/tools/gen_golden.py)."""

import gzip
import re
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ena_database_build_spark.operators import segmentation as S
from ena_database_build_spark.plans import ena_pipeline as P
from ena_database_build_spark.sources.embl import read_embl_lines
from ena_database_build_spark.sources.sinks import write_ena_tab
from tests.fixtures.embl_fixtures import EXPECTED_ENA_TAB, FILES, IDMAPPING


def _write(root, members, newline="\n"):
    for rel, text in members.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        with gzip.open(p, "wb") as f:
            f.write(text.replace("\n", newline).encode())


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("ena_corpus")
    _write(root, FILES)
    return root


@pytest.fixture(scope="module")
def idmapping_df(spark):
    return spark.createDataFrame(
        IDMAPPING, "foreign_id string, uniprot_id string"
    )


def _rows(df):
    return sorted(
        (
            r["ena_id"],
            r["uniprot_id"],
            r["locus_num"],
            r["chr_struct"],
            r["direction"],
            r["start"],
            r["end"],
        )
        for r in df.collect()
    )


def test_build_ena_tab_matches_reference_golden(spark, corpus, idmapping_df):
    lines = read_embl_lines(spark, str(corpus))
    tab = P.build_ena_tab(lines, idmapping_df).select(P.ENA_TAB_COLUMNS)
    assert _rows(tab) == sorted(EXPECTED_ENA_TAB)
    # no hint: the planner broadcasts the small idmapping on its own
    plan = tab._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    plan = plan.split("== Initial Plan ==")[0]
    assert re.search(
        r"BroadcastHashJoin \[foreign_id#\d+\], \[foreign_id#\d+\], "
        r"LeftOuter, BuildRight",
        plan,
    ), plan


def test_build_all_builds_each_stage_once(monkeypatch, spark, corpus, idmapping_df):
    """ena_tab and both dead-letter channels share one segmentation and
    one records/blocks extraction."""
    calls = Counter()
    for name in ("segment_lines", "extract_records", "extract_cds_blocks"):
        def counted(df, _name=name, _fn=getattr(S, name)):
            calls[_name] += 1
            return _fn(df)

        monkeypatch.setattr(S, name, counted)
    P.build_all(read_embl_lines(spark, str(corpus)), idmapping_df)
    assert calls == {
        "segment_lines": 1,
        "extract_records": 1,
        "extract_cds_blocks": 1,
    }


def _file_scans(node):
    """FileSourceScanExec nodes of an executed (adaptive) plan."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _file_scans(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _file_scans(node.plan())
        return
    if name == "FileSourceScanExec":
        yield node
    children = node.children()
    for i in range(children.size()):
        yield from _file_scans(children.apply(i))


def test_dropped_division_files_are_never_opened(spark, corpus):
    """F1 drops sequence/con/rel_std_con_01_r138.dat.gz before the scan
    opens it: the executed scan reads only the kept files."""
    lines = read_embl_lines(spark, str(corpus))
    kept = {r["file"] for r in lines.collect()}
    assert len(kept) == len(FILES) - 1
    assert not any("rel_std_con" in f for f in kept)
    scans = list(_file_scans(lines._jdf.queryExecution().executedPlan()))
    assert len(scans) == 1
    assert scans[0].metrics().apply("numFiles").value() == len(kept)


def test_dead_letter_channels(spark, corpus, idmapping_df):
    lines = read_embl_lines(spark, str(corpus))
    res = P.build_all(lines, idmapping_df)
    reasons = sorted(
        r["reject_reason"] for r in res.rejected_records.collect()
    )
    # EUK0001 (non-fungi eukaryote), HC710378 (XXX topology), BADLINE
    assert reasons == [
        "ill_formatted_id",
        "non_fungi_eukaryote",
        "unknown_topology",
    ]
    blocks = res.rejected_blocks.collect()
    assert len(blocks) == 1  # the `467` single-base CDS
    assert blocks[0]["reject_reason"] == "unparseable_cds_location"


def test_locus_ordinals_skip_failed_blocks(spark, corpus, idmapping_df):
    lines = read_embl_lines(spark, str(corpus))
    loci = P.parse_loci(lines)
    rec3 = {
        r["locus_num"]: (r["start"], r["end"])
        for r in loci.where(F.col("ena_id") == "ABZA01000003").collect()
    }
    # `467` fails (no ordinal), `100..200` -> 1, join -> 2 (quirk §2.10.4)
    assert rec3 == {1: (100, 200), 2: (250, 400)}


def test_tsv_sink_roundtrip(spark, corpus, idmapping_df, tmp_path):
    lines = read_embl_lines(spark, str(corpus))
    tab = P.build_ena_tab(lines, idmapping_df)
    out = tmp_path / "ena_tab"
    write_ena_tab(tab, str(out), partition_by_source_dir=True)
    back = (
        spark.read.option("sep", "\t")
        .schema(
            "ena_id string, uniprot_id string, locus_num int, chr_struct int, "
            "direction int, start long, end long"
        )
        .csv(str(out))
    )
    assert _rows(back) == sorted(EXPECTED_ENA_TAB)
    # shard dirs follow the reference's source-dir naming (P9)
    shard_dirs = {p.name for p in Path(out).iterdir() if p.is_dir()}
    assert shard_dirs == {
        "source_dir=wgs-public-abz",
        "source_dir=wgs-public-edg",
        "source_dir=sequence-pro",
    }


def test_line_no_orders_each_files_lines(spark, tmp_path):
    """Sorted by ``line_no``, each file's lines are its own gunzipped
    lines, also when the scan packs several files into one partition."""
    copies = 12
    for k in range(copies):
        _write(tmp_path / f"copy{k:02d}", FILES)
    lines = read_embl_lines(spark, str(tmp_path))
    by_file = {}
    for r in lines.collect():
        by_file.setdefault(r["file"], []).append((r["line_no"], r["line"]))
    assert len(by_file) == copies * (len(FILES) - 1)
    assert lines.rdd.getNumPartitions() < len(by_file)
    for file, rows in by_file.items():
        with gzip.open(file.removeprefix("file://"), "rt") as f:
            want = f.read().splitlines()
        assert [line for _, line in sorted(rows)] == want, file


def test_universal_newlines(spark, tmp_path, idmapping_df):
    """CRLF and bare CR end lines as LF does, as in the reference's
    text-mode gzip.open."""
    rels = list(FILES)
    _write(tmp_path, {rels[0]: FILES[rels[0]]}, "\r\n")
    _write(tmp_path, {rels[1]: FILES[rels[1]]}, "\r")
    _write(tmp_path, {rel: FILES[rel] for rel in rels[2:]})
    tab = P.build_ena_tab(read_embl_lines(spark, str(tmp_path)), idmapping_df)
    assert _rows(tab.select(P.ENA_TAB_COLUMNS)) == sorted(EXPECTED_ENA_TAB)
