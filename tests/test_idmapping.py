"""The parquet idmapping source (operator S4) reads its declared schema,
``foreign_id STRING, uniprot_id STRING``, without asking the files."""

from ena_database_build_spark.sources.idmapping import read_idmapping_parquet
from tests.fixtures.embl_fixtures import IDMAPPING


def test_parquet_read_starts_no_job(spark, tmp_path):
    """No schema-inference job: the read only plans."""
    path = str(tmp_path / "idmapping.parquet")
    spark.createDataFrame(
        IDMAPPING, "foreign_id string, uniprot_id string"
    ).write.parquet(path)
    sc = spark.sparkContext
    group = "idmapping-read-pin"
    sc.setJobGroup(group, group)
    try:
        idmapping = read_idmapping_parquet(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert sorted(map(tuple, idmapping.collect())) == sorted(IDMAPPING)


def test_parquet_columns_are_found_by_name(spark, tmp_path):
    """An extra column and another column order read as exactly
    ``foreign_id, uniprot_id``."""
    path = str(tmp_path / "idmapping.parquet")
    spark.createDataFrame(
        [("U1", "note", "F1.1")],
        "uniprot_id string, comment string, foreign_id string",
    ).write.parquet(path)
    idmapping = read_idmapping_parquet(spark, path)
    assert idmapping.dtypes == [("foreign_id", "string"), ("uniprot_id", "string")]
    assert [tuple(r) for r in idmapping.collect()] == [("F1.1", "U1")]
