"""JDBC contract test for the idmapping source (operator S4).

No MySQL exists in this environment; Spark bundles Apache Derby (for
the Hive metastore), whose embedded driver gives a real in-process
JDBC database — enough to contract-test the reader end-to-end: URL +
table + fetchsize path, and the partitioned-range-scan path the
reference's serial cursor cannot do (mysql_database.py:50-134).
"""

import pytest

from ena_database_build_spark.sources.idmapping import read_idmapping_jdbc

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

ROWS = [(i, f"F{i}.1", f"U{i % 7}") for i in range(50)]


@pytest.fixture(scope="module")
def jdbc_url(spark, tmp_path_factory):
    url = f"jdbc:derby:{tmp_path_factory.mktemp('derby')}/idmapdb;create=true"
    df = spark.createDataFrame(
        ROWS, "id int, foreign_id string, uniprot_id string"
    )
    try:
        df.write.jdbc(
            url, "idmapping", mode="overwrite", properties={"driver": DERBY_DRIVER}
        )
    except Exception as exc:  # noqa: BLE001 — no JDBC driver in this env
        pytest.skip(f"embedded Derby unavailable: {exc}")
    return url


def test_jdbc_roundtrip(spark, jdbc_url):
    back = read_idmapping_jdbc(
        spark, jdbc_url, "idmapping", driver=DERBY_DRIVER
    )
    assert back.columns == ["foreign_id", "uniprot_id"]
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        (f, u) for _, f, u in ROWS
    )


def test_jdbc_partitioned_range_scan(spark, jdbc_url):
    back = read_idmapping_jdbc(
        spark,
        jdbc_url,
        "idmapping",
        num_partitions=4,
        partition_column="id",
        lower_bound=0,
        upper_bound=50,
        driver=DERBY_DRIVER,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == len(ROWS)


@pytest.mark.skip(
    reason="known gap: no MySQL-wire server in this environment — the "
    "reference's mysql.connector semantics (reference "
    "ena_build/mysql_database.py:50-134) are covered only by the Derby "
    "embedded JDBC contract tests above; a MySQL URL swap is exercised "
    "nowhere and stays untested until an integration environment exists"
)
def test_jdbc_against_real_mysql(spark):
    """Placeholder making the environment gap visible in pytest output
    (-rs), per round-2 verdict item #8."""
