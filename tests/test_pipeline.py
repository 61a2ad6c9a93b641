"""End-to-end pipeline test: fixture ``.dat.gz`` corpus -> ena_tab,
compared against the golden output of the *reference* implementation
(tests/fixtures/embl_fixtures.EXPECTED_ENA_TAB, regenerated via
tests/tools/gen_golden.py)."""

import gzip
import random
import re
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ena_database_build_spark.operators import segmentation as S
from ena_database_build_spark.plans import ena_pipeline as P
from ena_database_build_spark.sources.embl import read_embl_lines
from ena_database_build_spark.sources.idmapping import read_idmapping_parquet
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


@pytest.fixture(scope="module")
def spaced_corpus(tmp_path_factory):
    """FILES under a directory whose name needs URL-encoding: ``file``
    URIs print the space as ``%20`` and the literal ``%20`` as ``%2520``,
    and the parse must open the member at its decoded path."""
    root = tmp_path_factory.mktemp("ena_spaced") / "a b%20c"
    _write(root, FILES)
    return root


def test_build_ena_tab_matches_reference_golden(
    spark, corpus, spaced_corpus, idmapping_df
):
    spaced = read_embl_lines(spark, str(spaced_corpus))
    assert _rows(P.build_ena_tab(spaced, idmapping_df)) == sorted(EXPECTED_ENA_TAB)
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


def test_duplicate_mapping_pairs_map_once(spark, corpus, idmapping_df):
    """Every pair of the mapping listed twice: the reference folds the
    rows it fetches into ``{foreign_id -> set(uniprot_id)}``, so the output
    is still the golden, where one uniprot id reached from two protein ids
    of a locus (AAA1.1 and AAA2.1 -> X1) gives two rows."""
    doubled = idmapping_df.unionAll(idmapping_df)
    tab = P.build_ena_tab(read_embl_lines(spark, str(corpus)), doubled)
    assert _rows(tab) == sorted(EXPECTED_ENA_TAB)


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


def _plan_nodes(node):
    """Nodes of an executed (adaptive) plan, through its query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
        return
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _file_scans(node):
    """FileSourceScanExec nodes of an executed (adaptive) plan."""
    for n in _plan_nodes(node):
        if n.getClass().getSimpleName() == "FileSourceScanExec":
            yield n


def _path_to_scan(node, fmt):
    """Node names from an executed (adaptive) plan's root down to its
    ``fmt`` file scan; empty if it has none."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _path_to_scan(node.executedPlan(), fmt)
    if name.endswith("QueryStageExec"):
        return _path_to_scan(node.plan(), fmt)
    if name == "FileSourceScanExec" and f"FileScan {fmt}" in node.toString():
        return [name]
    children = node.children()
    for i in range(children.size()):
        path = _path_to_scan(children.apply(i), fmt)
        if path:
            return [name, *path]
    return []


def test_shuffle_join_reads_the_mapping_as_is(spark, corpus, tmp_path):
    """A mapping above the broadcast threshold, as perfbench's 400k-row
    one: a sort-merge join over the parquet idmapping as read. No
    aggregate sits between the mapping's scan and its exchange, and the
    build shuffles three times: both join sides and the locus regroup."""
    path = str(tmp_path / "idmapping.parquet")
    spark.createDataFrame(
        IDMAPPING, "foreign_id string, uniprot_id string"
    ).write.parquet(path)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        lines = read_embl_lines(spark, str(corpus))
        tab = P.build_ena_tab(lines, read_idmapping_parquet(spark, path))
        tab = tab.select(P.ENA_TAB_COLUMNS)
        assert _rows(tab) == sorted(EXPECTED_ENA_TAB)
    finally:
        spark.conf.set(key, old)
    plan = tab._jdf.queryExecution().executedPlan()
    names = [n.getClass().getSimpleName() for n in _plan_nodes(plan)]
    assert names.count("SortMergeJoinExec") == 1, names
    assert "BroadcastExchangeExec" not in names, names
    assert names.count("ShuffleExchangeExec") == 3, names
    path = _path_to_scan(plan, "parquet")
    below = path[len(path) - 1 - path[::-1].index("ShuffleExchangeExec"):]
    assert not [n for n in below if "Aggregate" in n], below


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


COPIES = 12


@pytest.fixture(scope="module")
def copies(tmp_path_factory):
    root = tmp_path_factory.mktemp("ena_copies")
    for k in range(COPIES):
        _write(root / f"copy{k:02d}", FILES)
    return root


def test_universal_newlines(spark, tmp_path, idmapping_df):
    """CRLF and bare CR end lines as LF does, as in the reference's
    text-mode gzip.open."""
    rels = list(FILES)
    _write(tmp_path, {rels[0]: FILES[rels[0]]}, "\r\n")
    _write(tmp_path, {rels[1]: FILES[rels[1]]}, "\r")
    _write(tmp_path, {rel: FILES[rel] for rel in rels[2:]})
    tab = P.build_ena_tab(read_embl_lines(spark, str(tmp_path)), idmapping_df)
    assert _rows(tab.select(P.ENA_TAB_COLUMNS)) == sorted(EXPECTED_ENA_TAB)


# (file, record_idx[, block_idx], reject_reason) per copy of FILES
REJECTED_RECORDS = [
    ("sequence/pro/rel_std_PRO_01_r138.dat.gz", "1", "non_fungi_eukaryote"),
    ("sequence/pro/rel_std_PRO_01_r138.dat.gz", "3", "unknown_topology"),
    ("sequence/pro/rel_std_PRO_01_r138.dat.gz", "4", "ill_formatted_id"),
]
REJECTED_BLOCKS = [
    ("wgs/public/abz/ABZA01.dat.gz", "3", "6", "unparseable_cds_location"),
]


def _dead_letters(df, root):
    """Multiset of a dead-letter channel, ``file`` relative to its copy."""
    prefix = f"file://{root}/"
    return Counter(
        (r[0].removeprefix(prefix).split("/", 1)[1], *map(str, r[1:]))
        for r in df.collect()
    )


def test_parse_over_many_files_and_batches(spark, copies, idmapping_df):
    """More listing partitions than cores, coalesced into fewer Python
    tasks, and listing batches of 7 members, so a task parses many
    members that reach it over several Arrow batches: every channel
    still equals the golden once per copy."""
    lines = read_embl_lines(spark, str(copies))
    assert lines.rdd.getNumPartitions() > spark.sparkContext.defaultParallelism
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        res = P.build_all(lines, idmapping_df)
        tab = res.ena_tab.select(P.ENA_TAB_COLUMNS).collect()
        records = _dead_letters(res.rejected_records, copies)
        blocks = _dead_letters(res.rejected_blocks, copies)
    finally:
        spark.conf.set(key, old)
    assert Counter(map(tuple, tab)) == Counter(
        {row: n * COPIES for row, n in Counter(EXPECTED_ENA_TAB).items()}
    )
    assert records == Counter({r: COPIES for r in REJECTED_RECORDS})
    assert blocks == Counter({b: COPIES for b in REJECTED_BLOCKS})


def test_ena_tab_plan_is_one_python_pass(spark, copies, idmapping_df):
    """No Window, one ``binaryFile`` listing that reads no member
    content (empty ``ReadSchema``), one Python map, and no stage of the
    build runs more than defaultParallelism tasks, although the listing
    has more partitions: the stage that runs the pass is coalesced."""
    sc = spark.sparkContext
    lines = read_embl_lines(spark, str(copies))
    assert lines.rdd.getNumPartitions() > sc.defaultParallelism
    tab = P.build_all(lines, idmapping_df).ena_tab
    group = "ena-tab-plan-pin"
    sc.setJobGroup(group, group)
    try:
        tab.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    names = [
        n.getClass().getSimpleName()
        for n in _plan_nodes(tab._jdf.queryExecution().executedPlan())
    ]
    assert not [n for n in names if "Window" in n], names
    scans = list(_file_scans(tab._jdf.queryExecution().executedPlan()))
    assert len(scans) == 1
    scan = scans[0].toString()
    assert "FileScan binaryFile" in scan and "ReadSchema: struct<>" in scan, scan
    assert names.count("MapInArrowExec") == 1, names
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    tasks = [
        store.lastStageAttempt(sid).numTasks()
        for j in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(j).stageIds
        if store.lastStageAttempt(sid).status().toString() != "SKIPPED"
    ]
    assert tasks and max(tasks) <= sc.defaultParallelism, tasks


def _overflow_build(spark, tmp_path, text, idmapping_df):
    _write(tmp_path, {"wgs/public/big/BIG01.dat.gz": text})
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        res = P.build_all(read_embl_lines(spark, str(tmp_path)), idmapping_df)
        return (
            _rows(res.ena_tab),
            sorted(tuple(r)[1:] for r in res.rejected_records.collect()),
            sorted(tuple(r)[1:] for r in res.rejected_blocks.collect()),
        )
    finally:
        spark.conf.set(key, old)


OVERFLOW = "99999999999999999999"  # > 2**63 - 1


def test_id_length_beyond_int64_rejects_the_record(spark, tmp_path, idmapping_df):
    text = "\n".join([
        f"ID   BIG0001; SV 1; linear; genomic DNA; WGS; PRO; {OVERFLOW} BP.",
        "FT   CDS             1..50",
        'FT                   /protein_id="AAA1.1"',
        "ID   OK0001; SV 1; linear; genomic DNA; WGS; PRO; 1000 BP.",
        "FT   CDS             10..20",
        'FT                   /protein_id="AAA2.1"',
        "",
    ])
    tab, records, blocks = _overflow_build(spark, tmp_path, text, idmapping_df)
    assert tab == [("OK0001", "X1", 1, 1, 1, 10, 20)]
    assert records == [(1, "chr_len_out_of_range")]
    assert blocks == []


def test_range_beyond_int64_rejects_the_block(spark, tmp_path, idmapping_df):
    text = "\n".join([
        "ID   RNG0001; SV 1; circular; genomic DNA; WGS; PRO; 1000 BP.",
        f"FT   CDS             join(1..{OVERFLOW})",
        'FT                   /protein_id="AAA1.1"',
        "FT   CDS             10..20",
        'FT                   /protein_id="AAA2.1"',
        "",
    ])
    tab, records, blocks = _overflow_build(spark, tmp_path, text, idmapping_df)
    # the reference parses the block (Python ints), so it keeps its ordinal
    assert tab == [("RNG0001", "X1", 2, 0, 1, 10, 20)]
    assert records == []
    assert blocks == [(1, 1, "cds_location_out_of_range")]


def _channels(res):
    """Multisets of every output channel, full rows with ``file``."""
    return {
        name: Counter(map(tuple, getattr(res, name).collect()))
        for name in (
            "ena_tab", "rejected_records", "rejected_blocks", "rejected_files"
        )
    }


GOOD_MEMBER = "wgs/public/abz/ABZA01.dat.gz"


@pytest.fixture(scope="module")
def bad_members(tmp_path_factory):
    """A gzip member cut in half and a ``.dat.gz`` that is not gzip, both
    holding records that would reach ``ena_tab`` if they leaked."""
    root = tmp_path_factory.mktemp("ena_bad")
    text = FILES[GOOD_MEMBER].encode()
    data = gzip.compress(text)
    cut = root / "wgs/public/cut/CUT01.dat.gz"
    junk = root / "wgs/public/junk/JUNK01.dat.gz"
    for path, body in ((cut, data[: len(data) // 2]), (junk, text)):
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(body)
    return root


def test_bad_members_become_dead_letters(spark, tmp_path, bad_members, idmapping_df):
    """A cut member and a non-gzip member each give one ``rejected_files``
    row and nothing else; the intact files' output is the golden."""
    _write(tmp_path / "good", FILES)
    res = P.build_all(
        read_embl_lines(spark, [str(tmp_path / "good"), str(bad_members)]),
        idmapping_df,
    )
    assert _rows(res.ena_tab) == sorted(EXPECTED_ENA_TAB)
    assert _dead_letters(res.rejected_records, tmp_path) == Counter(REJECTED_RECORDS)
    assert _dead_letters(res.rejected_blocks, tmp_path) == Counter(REJECTED_BLOCKS)
    files = sorted(
        (r["file"].removeprefix(f"file://{bad_members}/"), r["reject_reason"])
        for r in res.rejected_files.collect()
    )
    assert files == [
        ("wgs/public/cut/CUT01.dat.gz", "truncated_gzip"),
        ("wgs/public/junk/JUNK01.dat.gz", "corrupt_gzip"),
    ]
    for name, rows in _channels(res).items():
        if name != "rejected_files":
            bad = [r for r in rows if str(bad_members) in r[0]]
            assert not bad, (name, bad)


def test_undecodable_bytes_are_replaced(spark, tmp_path, idmapping_df):
    """An invalid UTF-8 byte inside an ``FT`` qualifier line, or in a
    line the parse skips, changes no output."""
    edge = "wgs/public/edg/EDGE01.dat.gz"
    members = {rel: text.encode() for rel, text in FILES.items()}
    members[GOOD_MEMBER] = members[GOOD_MEMBER].replace(
        b'/translation="MLK"', b'/transl\xffation="MLK"'
    )
    members[edge] = members[edge].replace(
        b"OC   Bacteria; lineage.\n", b"OC   Bacteria; lineage.\nDE   caf\xe9\n", 1
    )
    for rel, data in members.items():
        p = tmp_path / "c" / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(gzip.compress(data))
    res = P.build_all(read_embl_lines(spark, str(tmp_path)), idmapping_df)
    assert _rows(res.ena_tab) == sorted(EXPECTED_ENA_TAB)
    assert _dead_letters(res.rejected_records, tmp_path) == Counter(REJECTED_RECORDS)
    assert res.rejected_files.count() == 0


def test_output_ignores_member_order_and_partitioning(
    spark, tmp_path, bad_members, idmapping_df
):
    """Listing the members one by one in a shuffled order, with one
    listing partition per member, changes no channel."""
    _write(tmp_path, FILES)
    roots = [str(tmp_path), str(bad_members)]
    members = [str(p) for root in (tmp_path, bad_members)
               for p in root.rglob("*.dat.gz")]
    random.Random(7).shuffle(members)
    want = _channels(P.build_all(read_embl_lines(spark, roots), idmapping_df))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        lines = read_embl_lines(spark, members)
        assert lines.rdd.getNumPartitions() == len(members) - 1  # F1 drops one
        got = _channels(P.build_all(lines, idmapping_df))
    finally:
        spark.conf.set(key, old)
    assert got == want
    assert len(want["rejected_files"]) == 2


def test_output_of_a_union_is_the_sum_of_its_halves(spark, copies, idmapping_df):
    """output(A ∪ B) = output(A) ⊎ output(B) for disjoint member sets."""
    dirs = [str(copies / f"copy{k:02d}") for k in range(COPIES)]

    def out(roots):
        return _channels(P.build_all(read_embl_lines(spark, roots), idmapping_df))

    half_a, half_b = out(dirs[::2]), out(dirs[1::2])
    both = out(dirs)
    assert both == {name: half_a[name] + half_b[name] for name in both}
    assert sum(both["ena_tab"].values()) == COPIES * len(EXPECTED_ENA_TAB)


@pytest.mark.parametrize("root", ["hdfs://nn/ena", "s3a://bucket/ena"])
def test_only_local_roots_are_read(spark, root):
    with pytest.raises(ValueError, match="local path"):
        read_embl_lines(spark, ["/tmp", root])
