"""ENA build benchmark: generated EMBL corpora through the package's CLI.

    python3 perfbench/run.py --workload embl_idmap_heavy --seed 1 \
        --seconds 16 --trace 0

Run it from the repository root.  Each run is one fresh process with one
fresh JVM.  It generates its inputs from ``--seed`` (``gen.py``), times
one cold set-up build, warms up, then repeats whole rounds of builds for
``--seconds`` and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  Every build's
output is checked against the pure-Python oracle (``oracle.py``).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics instead (see README.md for what each should move).
All generated inputs, Spark scratch space and outputs stay under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import procstat  # noqa: E402

# Master threads: pinned here, never inherited, and never above nproc.
THREADS = min(4, os.cpu_count() or 1)
MIN_TIMED_OPS = 3

WORKLOADS = {
    # warmup: full builds between the cold set-up build and the timed
    # ones.  A fresh JVM's JIT keeps speeding builds up for about eight
    # builds, most of it over by the fourth full build.
    # ops: timed builds per round.  A round takes about --seconds, so a
    # run makes one and its timed builds sit at the same point of that
    # curve in every run; with one-build rounds a slow host fitted fewer,
    # earlier (slower) builds, which widened the spread of the median.
    # A sequence_rejects round adds one untimed build over the corpus plus
    # a truncated member, which fails today, so every run fails exactly 1
    # in 4 attempted operations.
    "embl_idmap_heavy": {"warmup": 3, "ops": 4, "rejects": False,
                         "partitioned": False, "truncated": False},
    "embl_sequence_rejects": {"warmup": 2, "ops": 3, "rejects": True,
                              "partitioned": True, "truncated": True},
}


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``.
    Must run before the session starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIR": str(work / "local"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_WAREHOUSE_DIR": str(work / "warehouse"),
        "SPARK_GRAFT_CPUS": str(THREADS),
        # compiler threads that stay alive keep their CPU countable, so
        # cpu_s can leave the JIT out exactly (see Bench.cpu_s)
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
    })
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def read_tsv(root: Path, partitioned: bool = False) -> Counter:
    """Multiset of TSV rows under a Spark output dir; with
    ``partitioned`` each row is prefixed by its ``source_dir`` value."""
    rows = Counter()
    for p in sorted(root.rglob("*")):
        if not p.is_file() or p.name.startswith(("_", ".")):
            continue
        part = (p.parent.name.split("=", 1)[1],) if partitioned else ()
        for line in p.read_text().splitlines():
            rows[part + tuple(line.split("\t"))] += 1
    return rows


class Bench:
    def __init__(self, args, work: Path):
        from ena_database_build_spark import cli
        from ena_database_build_spark.session import get_spark

        self.cli, self.get_spark = cli, get_spark
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.work = work
        inp = work / "input"
        self.corpus = inp / "corpus"
        self.idmap = inp / "idmapping.parquet"
        self.plant = gen.generate(args.workload, args.seed, args.size, inp)
        self.full = oracle.expected(self.plant)
        self.slice = oracle.expected(self.plant, under=self.plant.slice_dir)
        self.source_dir = {r.ena_id: f.source_dir
                           for f in self.plant.files for r in f.records}
        self.trunc = work / "truncated"
        if self.spec["truncated"]:
            gen.write_truncated_member(self.trunc)
        self.out = work / "out"
        self.rejects = work / "rejects"
        # spans outlive the run's scratch directory
        self.spans_path = (work.parent / "spans" /
                           f"{args.workload}-{args.seed}-{os.getpid()}.jsonl")
        self.problems: list[str] = []
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.steals: list[float] = []
        self.attempted = self.failed = 0
        self.spark = None
        self.jvm = None

    # -- one build ---------------------------------------------------------

    def argv(self, roots: list[Path]) -> list[str]:
        a = ["--ena-paths", *map(str, roots), "--output-dir", str(self.out),
             "--idmapping-parquet", str(self.idmap),
             "--master", f"local[{THREADS}]"]
        if self.spec["partitioned"]:
            a.append("--partition-by-source-dir")
        if self.spec["rejects"]:
            a += ["--rejects-dir", str(self.rejects)]
        return a

    def cpu_s(self) -> float:
        """Process-tree CPU less the JVM's JIT compiler threads, whose
        work belongs to the JVM's warm-up, not to the build."""
        return procstat.tree_cpu_s() - procstat.jit_cpu_s(self.jvm.pid)

    def build(self, roots: list[Path]) -> tuple[float, float]:
        """One ``cli.main`` build; returns (wall s, CPU s)."""
        for d in (self.out, self.rejects):
            shutil.rmtree(d, ignore_errors=True)
        argv = self.argv(roots)
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()
        try:
            self.cli.main(argv)
            wall = time.perf_counter() - t0
            cpu = self.cpu_s() - cpu0
        finally:
            # one CLI build per process in production: drop the lines
            # build_all persisted so every build starts from the same state
            self.spark.catalog.clearCache()
        return wall, cpu

    def checked_build(self, roots=None, exp=None) -> tuple[float, float]:
        wall, cpu = self.build(roots or [self.corpus])
        self.check(exp or self.full)
        return wall, cpu

    # -- correctness ---------------------------------------------------------

    def check(self, exp) -> None:
        part = self.spec["partitioned"]
        got = read_tsv(self.out, part)
        want = exp.rows
        if not part:
            want = Counter()
            for k, v in exp.rows.items():
                want[k[1:]] += v
        if got != want:
            self.problems.append(
                f"ena.tab: {sum((got - want).values())} unexpected rows, "
                f"{sum((want - got).values())} missing rows")
        if part:
            misplaced = sum(n for k, n in got.items()
                            if self.source_dir.get(k[1]) != k[0])
            if misplaced:
                self.problems.append(f"{misplaced} rows in another source_dir")
        leaked = sum(n for k, n in got.items()
                     if k[1 if part else 0] in exp.filtered_ena_ids)
        if leaked:
            self.problems.append(f"{leaked} rows from filtered sequence/ files")
        if self.spec["rejects"]:
            for name, want_dl in (("records", exp.rejected_records),
                                  ("blocks", exp.rejected_blocks)):
                got_dl = Counter()
                for k, n in read_tsv(self.rejects / name).items():
                    rel = k[0].split(str(self.corpus) + "/", 1)[-1]
                    got_dl[(rel, *k[1:])] += n
                if got_dl != want_dl:
                    self.problems.append(
                        f"rejected {name}: {sum((got_dl - want_dl).values())} "
                        f"unexpected, {sum((want_dl - got_dl).values())} missing")

    # -- phases --------------------------------------------------------------

    def setup(self, import_s: float) -> tuple[float, float]:
        """Session start plus one cold build of the slice; returns
        (setup_s, get_spark_s).  ``import_s`` is the process's age when
        the package was imported, so setup_s runs from process start but
        leaves out input generation."""
        from pyspark import SparkContext

        t0 = time.perf_counter()
        self.spark = self.get_spark("perfbench", master=f"local[{THREADS}]")
        session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = SparkContext._gateway.proc
        self.checked_build([self.corpus / self.plant.slice_dir], self.slice)
        return import_s + time.perf_counter() - t0, session_s

    def warm_up(self) -> list[float]:
        return [self.checked_build()[0] for _ in range(self.spec["warmup"])]

    def truncated_build(self) -> None:
        """Corpus plus one truncated member: counted, never timed."""
        self.attempted += 1
        try:
            self.build([self.corpus, self.trunc])
        except Exception as err:  # noqa: BLE001 — the planted fault
            self.failed += 1
            print(f"truncated-member build failed: {type(err).__name__}",
                  file=sys.stderr)
            return
        self.check(self.full)

    def rounds(self, one_round, min_rounds: int) -> None:
        """Whole rounds, at least ``min_rounds``, for as near ``--seconds``
        as whole rounds allow: another round starts only while more than
        half a round's time is left.  Each sequence_rejects round ends
        with the truncated-member build."""
        t0 = time.perf_counter()
        done = 0
        while True:
            spent = time.perf_counter() - t0
            if done >= min_rounds and self.args.seconds - spent <= spent / done / 2:
                break
            one_round()
            if self.spec["truncated"]:
                self.truncated_build()
            done += 1

    def timed_round(self) -> None:
        for _ in range(self.spec["ops"]):
            self.attempted += 1
            steal0 = procstat.steal_s()
            wall, cpu = self.checked_build()
            self.walls.append(wall)
            self.cpus.append(cpu)
            self.steals.append(procstat.steal_s() - steal0)

    def peak_rss_mb(self) -> float:
        return procstat.peak_rss_mb(os.getpid()) + procstat.peak_rss_mb(
            self.jvm.pid)

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc, self.spark = self.jvm, None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--size", choices=("full", "tiny"), default="full",
                        help="tiny: a few files, for the smoke tests")
    args = parser.parse_args()

    root = Path.cwd()
    sys.path.insert(0, str(root))
    # the program under test comes from the checkout: without it, fail
    # here, before anything is written or printed
    import ena_database_build_spark.cli  # noqa: F401

    import_s = procstat.process_age_s()
    # no workload name in the path: the division filter reads the whole
    # directory path, and "sequence" anywhere in it would drop wgs files
    work = root / ".perfbench_work" / f"run-{args.seed}-{os.getpid()}"
    isolate(work)
    steal0 = procstat.steal_s()
    bench = None
    try:
        phases = {"start": time.perf_counter()}
        bench = Bench(args, work)
        phases["inputs"] = time.perf_counter()
        setup_s, session_s = bench.setup(import_s)
        phases["setup"] = time.perf_counter()
        warmup_walls = bench.warm_up()
        phases["warm_up"] = time.perf_counter()
        if args.trace:
            from layers import traced_rounds

            metrics = traced_rounds(bench, session_s)
        else:
            bench.rounds(bench.timed_round,
                         math.ceil(MIN_TIMED_OPS / bench.spec["ops"]))
            metrics = {
                "wall_s": metric(statistics.median(bench.walls), "s"),
                "cpu_s": metric(statistics.median(bench.cpus), "s"),
                "setup_s": metric(setup_s, "s"),
            }
        phases["timed"] = time.perf_counter()
        peak_rss = bench.peak_rss_mb()
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    phases["stop"] = time.perf_counter()
    marks = list(phases.items())
    phase_s = {name: round(t - marks[i - 1][1], 1)
               for i, (name, t) in enumerate(marks) if i}
    print(json.dumps({"context": {
        "loadavg": procstat.loadavg(),
        "steal_s": round(procstat.steal_s() - steal0, 2),
        "threads": THREADS,
        "warmup_walls": [round(w, 2) for w in warmup_walls],
        "phase_s": phase_s,
        "peak_rss_mb": round(peak_rss),
        "timed_ops": len(bench.walls),
        "walls": [round(w, 2) for w in bench.walls],
        "steal_per_op_s": [round(w, 2) for w in bench.steals],
        "problems": bench.problems[:5],
    }}))
    print(json.dumps({
        "correct": not bench.problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0 if not bench.problems else 1


if __name__ == "__main__":
    sys.exit(main())
