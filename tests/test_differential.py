"""Differential tests: generated corpora through this engine, checked
against an independent implementation of the reference semantics.

* The oracle arm always runs.  The benchmark's seeded planted-truth
  generator (``perfbench/gen.py``) writes both workload shapes at
  ``tiny`` size, ``cli.main`` builds them with the dead-letter channels,
  and the benchmark's pure-Python oracle (``perfbench/oracle.py``)
  checks ``ena_tab`` and both channels as multisets, with the checks of
  ``perfbench/run.py`` ``Bench.check``.  ``perfbench/`` is imported by
  path and not edited.
* The reference arm runs a random corpus through the reference
  implementation itself.  It is the harness that caught the stable-sort
  tie divergence the golden suites missed, and it is skipped when the
  reference tree is absent (standalone deployments).
"""

import importlib.util
from pathlib import Path
from types import SimpleNamespace

import pytest

from ena_database_build_spark import cli

REFERENCE = Path("/root/reference/ena_build")
PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench" / "run.py"

# run.py puts perfbench/ on sys.path and imports gen and oracle from it
_spec = importlib.util.spec_from_file_location("perfbench_run", PERFBENCH)
bench_run = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_run)


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("workload", sorted(bench_run.WORKLOADS))
def test_generated_corpus_matches_oracle(spark, tmp_path, workload, seed):
    plant = bench_run.gen.generate(workload, seed, "tiny", tmp_path / "input")
    bench = SimpleNamespace(
        # both workloads write the dead-letter channels here
        spec={**bench_run.WORKLOADS[workload], "rejects": True},
        corpus=tmp_path / "input" / "corpus",
        idmap=tmp_path / "input" / "idmapping.parquet",
        out=tmp_path / "out",
        rejects=tmp_path / "rejects",
        source_dir={r.ena_id: f.source_dir for f in plant.files for r in f.records},
        problems=[],
    )
    cli.main(bench_run.Bench.argv(bench, [bench.corpus]))
    bench_run.Bench.check(bench, bench_run.oracle.expected(plant))
    assert bench.problems == []


@pytest.mark.skipif(
    not REFERENCE.exists(), reason="reference implementation not available"
)
def test_random_corpus_matches_reference(spark, tmp_path):
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import bench_embl

    bench_embl.N_FILES, bench_embl.N_RECORDS = 6, 40
    root = tmp_path / "corpus"
    root.mkdir()
    pairs = bench_embl.gen_corpus(root)
    _, ref_rows = bench_embl.run_reference(root, pairs)

    from ena_database_build_spark.plans.ena_pipeline import build_ena_tab
    from ena_database_build_spark.sources.embl import read_embl_lines

    idmap = spark.createDataFrame(pairs, "foreign_id string, uniprot_id string")
    tab = build_ena_tab(read_embl_lines(spark, str(root)), idmap).drop("file")
    spark_rows = sorted(
        "\t".join(str(v) for v in r) for r in tab.collect()
    )
    assert spark_rows == ref_rows
