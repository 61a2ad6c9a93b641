"""Layout-invariance sweep tooling (round 9).

The ``scramble`` corpus mode feeds the partition/layout-invariance
gate: same relation, permuted row order, multi-file uneven layout.
These tests pin the generator's contract (value-preserving, genuinely
order-changing, deterministic) and the ``--spark-conf`` CLI hygiene in
tools/check_catalog.py — the sweep's other lever.

The sweep itself (all 181 catalog queries Spark-vs-DuckDB over the
scrambled corpus, with spark.sql.shuffle.partitions=5 and AQE off) is
a tools-level gate run per-round, not a pytest: round-9 result
181/181 on every axis (see README "Robustness sweeps").
"""

import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from adversarial_corpus import mutate_scramble  # noqa: E402
from check_catalog import parse_spark_confs  # noqa: E402


@pytest.fixture(scope="module")
def scrambled(tmp_path_factory):
    out = tmp_path_factory.mktemp("sf_scramble")
    mutate_scramble(SF_DIR, str(out))
    return out


def _rows(path) -> list[tuple]:
    tbl = pq.read_table(path)
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    return list(zip(*cols)) if cols else []


def test_scramble_preserves_row_multiset(scrambled):
    src = _rows(f"{SF_DIR}/lineitem.parquet")
    dst = _rows(scrambled / "lineitem.parquet")
    assert sorted(map(repr, src)) == sorted(map(repr, dst))


def test_scramble_actually_changes_order_and_layout(scrambled):
    src = _rows(f"{SF_DIR}/orders.parquet")
    dst = _rows(scrambled / "orders.parquet")
    assert src != dst  # a no-op permutation would gut the sweep
    parts = sorted((scrambled / "orders.parquet").glob("part-*.parquet"))
    assert len(parts) == 7
    sizes = [pq.read_table(p).num_rows for p in parts]
    assert len(set(sizes)) > 1  # uneven splits perturb scan boundaries


def test_scramble_is_deterministic(scrambled, tmp_path):
    mutate_scramble(SF_DIR, str(tmp_path / "again"))
    a = _rows(scrambled / "events.parquet")
    b = _rows(tmp_path / "again" / "events.parquet")
    assert a == b  # same seed -> same permutation, reproducible triage


def test_parse_spark_confs_strips_pairs():
    confs, rest = parse_spark_confs(
        ["--spark-conf", "spark.sql.shuffle.partitions=5",
         "dedup_exact",
         "--spark-conf", "spark.sql.adaptive.enabled=false"]
    )
    assert confs == {
        "spark.sql.shuffle.partitions": "5",
        "spark.sql.adaptive.enabled": "false",
    }
    assert rest == ["dedup_exact"]


@pytest.mark.parametrize(
    "argv", [["--spark-conf"], ["--spark-conf", "novalue"]]
)
def test_parse_spark_confs_rejects_malformed(argv):
    with pytest.raises(SystemExit):
        parse_spark_confs(argv)


def test_skew_mode_collapses_half_onto_one_hot_key(tmp_path):
    from adversarial_corpus import SKEW_COLS, mutate_skew

    mutate_skew(SF_DIR, str(tmp_path))
    tbl = pq.read_table(tmp_path / "events.parquet")
    src = pq.read_table(f"{SF_DIR}/events.parquet")
    col = SKEW_COLS["events"]
    vals = tbl.column(tbl.schema.get_field_index(col)).to_pylist()
    hot = min(v for v in src.column(col).to_pylist() if v is not None)
    frac = sum(v == hot for v in vals) / len(vals)
    assert 0.45 <= frac <= 0.60  # ~50% + the hot key's own rows
    # every other column byte-identical to the source
    for f in src.schema:
        if f.name != col:
            assert tbl.column(f.name).to_pylist() == src.column(
                f.name
            ).to_pylist()
