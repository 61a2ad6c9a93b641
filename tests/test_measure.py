"""The shared measurement core (tools/measure.py): timing loop, core
count, session arguments, DuckDB views and the replica generator.
None of these tests starts Spark."""

import sys
from pathlib import Path
from types import SimpleNamespace

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import measure  # noqa: E402


def test_timed_runs_warms_up_once_and_returns_sorted_reps(monkeypatch):
    calls = []
    # each timed call reads the clock twice; durations 3, 1, 2
    ticks = iter([0.0, 3.0, 10.0, 11.0, 20.0, 22.0])
    monkeypatch.setattr(measure.time, "perf_counter", lambda: next(ticks))
    runs = measure.timed_runs(lambda: calls.append(1), reps=3)
    assert len(calls) == 4
    assert runs == [1.0, 2.0, 3.0]


def test_cpus_falls_back_to_host_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(measure.os, "cpu_count", lambda: 7)
    assert measure.cpus() == 7
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert measure.cpus() == 3


def _fake_get_spark(monkeypatch):
    seen = {}

    def get_spark(app, master, shuffle_partitions):
        seen.update(app=app, master=master, shuffle=shuffle_partitions)
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None)
        )

    monkeypatch.setattr(measure, "get_spark", get_spark)
    return seen


def test_session_defaults_to_host_cores(monkeypatch):
    seen = _fake_get_spark(monkeypatch)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    monkeypatch.setattr(measure.os, "cpu_count", lambda: 4)
    measure.session("t")
    assert seen == {"app": "t", "master": "local[4]", "shuffle": 4}
    measure.session("t", 16, max_shuffle=8)
    assert (seen["master"], seen["shuffle"]) == ("local[16]", 8)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "5")
    measure.session("t", 16, max_shuffle=8)
    assert seen["shuffle"] == 5


def test_duck_views_read_files_and_directories_of_parts(tmp_path):
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), tmp_path / "orders.parquet")
    parts = tmp_path / "lineitem.parquet"
    parts.mkdir()
    for i in range(3):
        pq.write_table(pa.table({"l_orderkey": [i]}), parts / f"part-{i}.parquet")
    con = measure.duck_views(duckdb.connect(), str(tmp_path))
    assert con.sql("SELECT count(*) FROM orders").fetchone() == (2,)
    assert con.sql("SELECT count(*) FROM lineitem").fetchone() == (3,)
    # tables absent from the directory get no view
    with pytest.raises(duckdb.CatalogException):
        con.sql("SELECT * FROM region")


@pytest.fixture
def src(tmp_path, monkeypatch):
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"o_orderkey": [1, 2], "o_custkey": [5, 6], "v": [0.5, 1.5]}),
        src / "orders.parquet",
    )
    pq.write_table(
        pa.table({"n_nationkey": [0, 1], "n_name": ["A", "B"]}),
        src / "nation.parquet",
    )
    pq.write_table(
        pa.table({"doc_id": [1], "text": ["hello"]}), src / "documents.parquet"
    )
    monkeypatch.setattr(measure, "SRC", str(src))
    return src


def test_replicate_offsets_keys_and_copies_dims_once(src, tmp_path):
    out = tmp_path / "out"
    measure.replicate(str(out), 3, ["orders", "nation", "documents"])
    orders = pq.read_table(out / "orders.parquet").to_pydict()
    off = measure.OFFSET
    assert sorted(orders["o_orderkey"]) == [
        1, 2, 1 + off, 2 + off, 1 + 2 * off, 2 + 2 * off
    ]
    assert sorted(orders["o_custkey"])[-1] == 6 + 2 * off
    assert sorted(orders["v"]) == [0.5] * 3 + [1.5] * 3
    assert len(list((out / "orders.parquet").iterdir())) == 3
    nation = pq.read_table(out / "nation.parquet").to_pydict()
    assert nation == {"n_nationkey": [0, 1], "n_name": ["A", "B"]}
    docs = pq.read_table(out / "documents.parquet").to_pydict()
    assert docs["text"] == ["hello"] * 3


def test_replicate_varies_text_and_rebuilds_on_new_arguments(src, tmp_path):
    out = tmp_path / "out"
    measure.replicate(str(out), 2, ["documents"])
    measure.replicate(str(out), 2, ["documents"], vary_text=True)
    docs = pq.read_table(out / "documents.parquet").to_pydict()
    # joined with a " " separator onto " r<i>", as the sf1 corpus was
    assert sorted(docs["text"]) == ["hello  r0", "hello  r1"]
    # a different replica count rebuilds; going back rebuilds again
    measure.replicate(str(out), 1, ["documents"])
    measure.replicate(str(out), 2, ["documents"], vary_text=True)
    docs = pq.read_table(out / "documents.parquet").to_pydict()
    assert sorted(docs["doc_id"]) == [1, 1 + measure.OFFSET]
    assert sorted(docs["text"]) == ["hello  r0", "hello  r1"]
