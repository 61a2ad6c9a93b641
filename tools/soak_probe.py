"""Full-size large-member soak.

Generates ONE pathologically large gzipped EMBL member (default 400k
records: 2.9M lines, ~125 MB of text, 11 MB gzip'd), runs the pipeline on
it, and reports the output rows, the wall time and the JVM's peak RSS
(VmHWM).  Ingest streams the member one row per line, so no row is ever
member-sized; the peak RSS shows that the executor memory stays bounded
on members far larger than the "relatively small" files the reference
assumes (reference README.md:48).  ``tests/test_scale_probe.py`` pins
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


def jvm_peak_rss_mb() -> float | None:
    """VmHWM of the py4j-launched JVM (child java process), in MB."""
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().split()
            if int(parts[3]) != me:  # ppid
                continue
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return round(int(line.split()[1]) / 1024, 1)
        except (OSError, ValueError):
            continue
    return None


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
        print(
            f"{n} output rows in {time.perf_counter() - st:.1f}s, "
            f"JVM peak RSS: {jvm_peak_rss_mb()} MB"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
