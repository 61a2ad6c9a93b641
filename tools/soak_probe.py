"""Full-size large-member soak.

Generates ONE pathologically large gzipped EMBL member (default 400k
records: 2.9M lines, ~125 MB of text, 11 MB gzip'd), runs the pipeline on
it, and reports the output rows, the wall time and the peak RSS (VmHWM)
of the JVM and of the Python workers that run the per-file parse.
One Python worker decodes the member's gzip stream to its end, then
streams its lines through the parse, which holds one record at a time,
so no row or buffer is member-sized; the peak RSS
shows that the executor memory stays bounded on members far larger
than the "relatively small" files the reference assumes (reference
README.md:48).  ``tests/test_scale_probe.py`` pins
the output of the same record mix at 20k records.

Usage: python tools/soak_probe.py [n_records]
"""

from __future__ import annotations

import gzip
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ena_database_build_spark.plans import ena_pipeline as P  # noqa: E402
from ena_database_build_spark.session import get_spark  # noqa: E402
from ena_database_build_spark.sources.embl import read_embl_lines  # noqa: E402


def write_member(path: Path, records: range) -> Path:
    """Write ``records`` (ordinals of the soak's record mix) as one
    gzipped EMBL member at ``path``.  Record ``i`` is ``BIG<i>``, so the
    same ordinals give the same records in any file layout."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with gzip.open(path, "wt") as f:
        for i in records:
            chr_len = 1000 + (i % 9000)
            topo = "circular" if i % 5 == 0 else "linear"
            a, b = (i * 37) % 800 + 1, (i * 37) % 800 + 1 + (i % 120)
            f.write(
                f"ID   BIG{i:08d}; SV 1; {topo}; genomic DNA; WGS; PRO; "
                f"{chr_len} BP.\n"
                "OC   Bacteria; lineage.\n"
                f"FT   source          1..{chr_len}\n"
                f"FT   CDS             join({a}..{b},{b + 10}..{b + 50})\n"
                f'FT                   /protein_id="P{i % 1000}.1"\n'
                f'FT                   /translation="MKV{"A" * (i % 40)}"\n'
            )
            if i % 3 == 0:  # no x..y range: an unparseable block (F7)
                f.write(
                    "FT   CDS             467\n"
                    f'FT                   /protein_id="SKIP{i}.1"\n'
                )
            if i % 4 == 0:
                f.write(
                    f"FT   CDS             complement({a + 2}..{b + 2})\n"
                    f'FT                   /db_xref="UniProtKB/TrEMBL:Q{i % 500}"\n'
                )
    return path


def idmapping(spark):
    """The mapping the record mix is built against: every third of the
    1,000 protein ids has a hit."""
    return spark.createDataFrame(
        [(f"P{i}.1", f"U{i}") for i in range(0, 1000, 3)],
        "foreign_id string, uniprot_id string",
    )


def _proc_tree() -> dict[int, list[int]]:
    """ppid -> child pids of every live process."""
    children: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    return children


def _comm_and_peak_mb(pid: int) -> tuple[str, float]:
    """A process's name and VmHWM (peak RSS) in MB."""
    with open(f"/proc/{pid}/comm") as f:
        comm = f.read().strip()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return comm, int(line.split()[1]) / 1024
    return comm, 0.0


def peak_rss_mb() -> tuple[float | None, float, int]:
    """VmHWM of the py4j-launched JVM (child java process), and the
    summed VmHWM of the Python processes under it (pyspark's daemon and
    its workers) with their count, in MB.  Forked workers share pages
    with the daemon, so the sum is an upper bound."""
    tree = _proc_tree()
    jvm, workers, n = None, 0.0, 0
    for pid in tree.get(os.getpid(), []):
        try:
            comm, peak = _comm_and_peak_mb(pid)
        except OSError:
            continue
        if comm != "java":
            continue
        jvm = round(peak, 1)
        stack = list(tree.get(pid, []))
        while stack:
            child = stack.pop()
            stack += tree.get(child, [])
            try:
                comm, peak = _comm_and_peak_mb(child)
            except OSError:
                continue
            if comm.startswith("python"):
                workers, n = workers + peak, n + 1
    return jvm, round(workers, 1), n


def main() -> None:
    n_records = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000

    root = Path(tempfile.mkdtemp(prefix="soak_probe_"))
    try:
        st = time.perf_counter()
        member = write_member(
            root / "wgs" / "public" / "big" / "BIG001.dat.gz", range(n_records)
        )
        gz_mb = member.stat().st_size / (1 << 20)
        n_lines = sum(1 for _ in gzip.open(member, "rb"))
        print(
            f"corpus: {n_records} records, {gz_mb:.0f} MB gzip'd, "
            f"{n_lines} lines, generated in "
            f"{time.perf_counter() - st:.0f}s"
        )

        spark = get_spark("soak-probe")
        spark.sparkContext.setLogLevel("ERROR")
        st = time.perf_counter()
        out = P.build_ena_tab(read_embl_lines(spark, str(root)), idmapping(spark))
        n = out.count()
        wall = time.perf_counter() - st
        jvm, workers, n_workers = peak_rss_mb()
        print(
            f"{n} output rows in {wall:.1f}s, JVM peak RSS: {jvm} MB, "
            f"Python workers' peak RSS: {workers} MB over {n_workers} processes"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
