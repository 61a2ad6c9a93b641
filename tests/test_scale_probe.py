"""Scale probe: one LARGE single EMBL member.

The record mix of ``tools/soak_probe.py`` is written twice: as one
``.dat.gz`` member (size via $SPARK_GRAFT_SCALE_PROBE_RECORDS, default
20k records: 143k lines, 6.2 MB of text, 0.56 MB gzip'd) and as many
small members.  Both layouts must give the same ``ena_tab`` once
``file`` is dropped.  Each member is one unit of work, also with a
split size below the member's size.  The memory half of the contract is
structural: the parse streams a member's lines and holds one record at
a time, which is the bounded-executor-memory argument at 256 MB+
members; run the soak tool for a full-size check.
"""

import os
import sys
from pathlib import Path

import pytest

from ena_database_build_spark.plans import ena_pipeline as P
from ena_database_build_spark.sources.embl import read_embl_lines

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import soak_probe  # noqa: E402

N_RECORDS = int(os.environ.get("SPARK_GRAFT_SCALE_PROBE_RECORDS", "20000"))
SMALL_FILE_RECORDS = 500


@pytest.fixture(scope="module")
def big_corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("big_corpus")
    soak_probe.write_member(
        root / "wgs" / "public" / "big" / "BIG001.dat.gz", range(N_RECORDS)
    )
    return root


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("small_corpus")
    for k in range(0, N_RECORDS, SMALL_FILE_RECORDS):
        soak_probe.write_member(
            root / "wgs" / "public" / f"s{k // SMALL_FILE_RECORDS % 8}"
            / f"SMALL{k:08d}.dat.gz",
            range(k, min(k + SMALL_FILE_RECORDS, N_RECORDS)),
        )
    return root


def test_large_member_matches_small_files(spark, big_corpus, small_corpus):
    idmap = soak_probe.idmapping(spark)

    def rows(root):
        tab = P.build_ena_tab(read_embl_lines(spark, str(root)), idmap)
        return sorted(tuple(r) for r in tab.select(P.ENA_TAB_COLUMNS).collect())

    big = rows(big_corpus)
    # every 4th record carries a parsed-uniprot fallback locus (J3), so
    # at least that many rows must exist (records whose only protein id
    # found no mapping emit nothing, by design)
    assert len(big) >= N_RECORDS // 4
    assert big == rows(small_corpus)


def test_large_member_is_one_split(spark, big_corpus):
    """A member larger than the split size is still one listing
    partition, so the member is one unit of work that a single Python
    task opens and parses whole (``binaryFile`` never splits a file)."""
    (member,) = big_corpus.rglob("*.dat.gz")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(member.stat().st_size // 4))
    try:
        lines = read_embl_lines(spark, str(big_corpus))
        assert lines.rdd.getNumPartitions() == 1
    finally:
        spark.conf.set(key, old)
