"""CLI parity test: ``ena-spark-build`` (cli.main) runs the fixture
corpus end-to-end — parquet idmapping source, TSV output, dead-letter
channels — and the written table matches the reference golden."""

import csv
import gzip
from pathlib import Path

import pytest

from ena_database_build_spark import cli
from tests.fixtures.embl_fixtures import EXPECTED_ENA_TAB, FILES, IDMAPPING


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("cli_corpus")
    for rel, text in FILES.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        with gzip.open(p, "wt") as f:
            f.write(text)
    return root


@pytest.fixture(scope="module")
def idmapping_parquet(tmp_path_factory, spark):
    path = str(tmp_path_factory.mktemp("idmap") / "idmapping.parquet")
    spark.createDataFrame(
        IDMAPPING, "foreign_id string, uniprot_id string"
    ).write.parquet(path)
    return path


def _read_tsv_rows(out_dir: Path):
    rows = []
    for part in sorted(Path(out_dir).glob("part-*")):
        with open(part, newline="") as f:
            for rec in csv.reader(f, delimiter="\t"):
                rows.append(
                    (rec[0], rec[1], int(rec[2]), int(rec[3]), int(rec[4]),
                     int(rec[5]), int(rec[6]))
                )
    return sorted(rows)


def _read_lines(out_dir: Path):
    lines = []
    for part in sorted(Path(out_dir).glob("part-*")):
        lines += [ln for ln in part.read_text().splitlines() if ln.strip()]
    return lines


def test_cli_end_to_end(spark, corpus, idmapping_parquet, tmp_path):
    out = tmp_path / "ena_out"
    rejects = tmp_path / "rejects"
    cut = tmp_path / "cut" / "wgs" / "public" / "cut" / "CUT01.dat.gz"
    cut.parent.mkdir(parents=True)
    data = gzip.compress(FILES["wgs/public/abz/ABZA01.dat.gz"].encode())
    cut.write_bytes(data[: len(data) // 2])
    cli.main(
        [
            "--ena-paths", str(corpus), str(tmp_path / "cut"),
            "--output-dir", str(out),
            "--idmapping-parquet", idmapping_parquet,
            "--rejects-dir", str(rejects),
            "--master", "local[4]",
            "--shuffle-partitions", "4",
        ]
    )
    assert _read_tsv_rows(out) == sorted(EXPECTED_ENA_TAB)
    reasons = sorted(ln.split("\t")[-1] for ln in _read_lines(rejects / "records"))
    assert "ill_formatted_id" in reasons
    assert "unknown_topology" in reasons
    assert "non_fungi_eukaryote" in reasons
    assert _read_lines(rejects / "files") == [f"file://{cut}\ttruncated_gzip"]


@pytest.mark.parametrize("rejects", [False, True])
def test_cli_releases_its_cache(spark, corpus, idmapping_parquet, tmp_path, rejects):
    """With --rejects-dir the four writes share a persisted parse;
    cli.main must release it, and without dead letters cache nothing."""
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs())  # noqa: E731
    # an equal plan cached by an earlier test would absorb a new persist
    spark.catalog.clearCache()
    before = persisted()
    argv = [
        "--ena-paths", str(corpus),
        "--output-dir", str(tmp_path / "ena_out"),
        "--idmapping-parquet", idmapping_parquet,
        "--master", "local[4]",
        "--shuffle-partitions", "4",
    ]
    if rejects:
        argv += ["--rejects-dir", str(tmp_path / "rejects")]
    cli.main(argv)
    assert _read_tsv_rows(tmp_path / "ena_out") == sorted(EXPECTED_ENA_TAB)
    # only RDDs persisted during the run count: the context cleaner may
    # meanwhile release ones that earlier tests localCheckpointed
    assert persisted() - before == set()


def test_cli_requires_idmapping_source(capsys):
    with pytest.raises(SystemExit):
        cli.parse_args(["--ena-paths", "/x", "--output-dir", "/y"])


def test_cli_db_config_requires_db_name(tmp_path):
    ini = tmp_path / "db.ini"
    ini.write_text("[database]\nuser=u\npassword=p\nhost=h\nport=3306\n")
    with pytest.raises(SystemExit):
        cli.parse_args(
            ["--ena-paths", "/x", "--output-dir", "/y", "--db-config", str(ini)]
        )
    url, opts = cli.jdbc_url_from_ini(str(ini), "efi")
    assert url == "jdbc:mysql://h:3306/efi"
    assert opts == {"user": "u", "password": "p"}
