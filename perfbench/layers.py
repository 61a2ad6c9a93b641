"""The traced run: per-layer metrics of the ENA build.

Each round makes one untraced build (with engine counters read from the
JVM's status store), one traced build (``cli.main`` with a span around
every call it makes into a layer), untraced builds up to the workload's
builds per round, and then times each layer's
execution by writing that layer's output to the ``noop`` sink in
pipeline order.  Spark is lazy, so a span around a layer call measures
client-side plan construction only; execution is the prefix time of
the layer's output, and a layer's self time is its prefix time minus
the prefix time of its inputs.  Counts come from ``Observation``
metrics gathered inside those same noop writes.
"""

from __future__ import annotations

import shutil
import statistics
from collections import defaultdict

from pyspark.sql import Observation
from pyspark.sql import functions as F

import procstat
from spans import Tracer

CLI_LAYERS = {
    "get_spark": "session.get_spark",
    "read_embl_lines": "sources.embl.read_embl_lines",
    "read_idmapping_parquet": "sources.idmapping.read_idmapping_parquet",
    "build_all": "plans.ena_pipeline.build_all",
    "write_ena_tab": "sources.sinks.write_ena_tab",
}


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def engine_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages that ran, tasks, shuffle-write and spill bytes of the
    jobs in ``group``, read from the JVM's live status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    out = {"spark.jobs": len(jobs), "spark.stages": 0, "spark.tasks": 0,
           "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0}
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += st.numTasks()
        out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


class Prefixes:
    """Noop-sink prefix timings with observed counts."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.n = 0

    def run(self, name: str, df, *aggs) -> tuple[float, dict]:
        self.n += 1
        obs = Observation(f"perfbench_{self.n}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs)
        with self.tracer.span(f"exec.{name}") as s:
            observed.write.format("noop").mode("overwrite").save()
        return s["end"] - s["start"], obs.get


def traced_rounds(bench, session_s: float) -> dict:
    from ena_database_build_spark import cli
    from ena_database_build_spark.operators import segmentation as S
    from ena_database_build_spark.plans import ena_pipeline as P
    from ena_database_build_spark.sources import embl, idmapping, sinks

    spark, tracer = bench.spark, Tracer()
    prefixes = Prefixes(tracer)
    sample = defaultdict(list)
    part = bench.spec["partitioned"]

    def one_round() -> None:
        tracer.op += 1
        group = f"perfbench-op{tracer.op}"
        spark.sparkContext.setJobGroup(group, group)
        gc0, jit0 = jvm_gc_s(spark), procstat.jit_cpu_s(bench.jvm.pid)
        bench.attempted += 1
        wall, _ = bench.checked_build()
        sample["jvm.gc_s"].append(jvm_gc_s(spark) - gc0)
        sample["jvm.jit_cpu_s"].append(procstat.jit_cpu_s(bench.jvm.pid) - jit0)
        for k, v in engine_counters(spark, group).items():
            sample[k].append(v)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        sample["untraced_s"].append(wall)

        bench.attempted += 1
        with tracer.patched(cli, CLI_LAYERS), tracer.span("cli.main") as s:
            bench.build([bench.corpus])
        bench.check(bench.full)
        sample["cli.main_s"].append(s["end"] - s["start"])
        sample["plans.ena_pipeline.plan_s"] += tracer.durations(
            "plans.ena_pipeline.build_all")[-1:]
        sample["cli.rejects_write_s"] += tracer.self_times("cli.main")[-1:]

        # further untraced builds keep a round's builds (and so its share
        # of failed operations) equal to an untraced run's
        for _ in range(bench.spec["ops"] - 2):
            bench.attempted += 1
            sample["untraced_s"].append(bench.checked_build()[0])

        with tracer.span("sources.embl.read_embl_lines") as s:
            lines = embl.read_embl_lines(spark, [str(bench.corpus)])
        listing = s["end"] - s["start"]
        t_lines, c = prefixes.run("lines", lines)
        sample["sources.embl.read_s"].append(listing + t_lines)
        sample["sources.embl.lines"].append(c["n"])
        listed = [f.removeprefix("file:") for f in lines.inputFiles()]
        sample["sources.embl.files"].append(len(listed))
        sample["sources.embl.bytes_in"].append(
            sum((bench.corpus / f.split(str(bench.corpus) + "/", 1)[1])
                .stat().st_size for f in listed))
        sample["sources.embl.partitions"].append(lines.rdd.getNumPartitions())

        segmented = S.segment_lines(lines)
        t_seg, c = prefixes.run("segment_lines", segmented)
        sample["operators.segmentation.segment_lines_s"].append(t_seg - t_lines)
        sample["operators.segmentation.kept_lines"].append(c["n"])
        sample["operators.segmentation.kept_line_ratio"].append(
            c["n"] / sample["sources.embl.lines"][-1])

        t, c = prefixes.run("extract_records", S.extract_records(segmented),
                            F.count("reject_reason").alias("rejected"))
        sample["operators.segmentation.extract_records_s"].append(t - t_seg)
        sample["operators.segmentation.records"].append(c["n"])
        sample["operators.segmentation.rejected_records"].append(c["rejected"])

        t_blk, c = prefixes.run("extract_cds_blocks", S.extract_cds_blocks(segmented))
        sample["operators.segmentation.extract_cds_blocks_s"].append(t_blk - t_seg)
        sample["operators.segmentation.cds_blocks"].append(c["n"])

        loci = P.parse_loci(lines, segmented=segmented)
        t_loci, c = prefixes.run("parse_loci", loci)
        sample["plans.ena_pipeline.parse_loci_s"].append(t_loci - t_blk)
        sample["plans.ena_pipeline.loci"].append(c["n"])

        idmap = idmapping.read_idmapping_parquet(spark, str(bench.idmap))
        t_id, c = prefixes.run("read_idmapping", idmap)
        sample["sources.idmapping.read_s"].append(t_id)
        sample["sources.idmapping.rows"].append(c["n"])

        t, c = prefixes.run(
            "resolve_uniprot_ids", P.resolve_uniprot_ids(loci, idmap),
            F.sum((F.size("mapped_uniprot_ids") > 0).cast("int")).alias("mapped"))
        sample["plans.ena_pipeline.resolve_uniprot_ids_s"].append(t - t_loci - t_id)
        sample["plans.ena_pipeline.mapped_loci"].append(c["mapped"])
        sample["plans.ena_pipeline.fallback_loci"].append(c["n"] - c["mapped"])
        sample["plans.ena_pipeline.mapped_loci_ratio"].append(c["mapped"] / c["n"])

        _, c = prefixes.run("rejected_blocks", P.build_all(lines, idmap).rejected_blocks)
        spark.catalog.clearCache()
        sample["plans.ena_pipeline.rejected_blocks"].append(c["n"])

        ena_tab = P.build_ena_tab(lines, idmap)
        t_ena, c = prefixes.run("ena_tab", ena_tab)
        sample["plans.ena_pipeline.rows_out"].append(c["n"])
        shutil.rmtree(bench.out, ignore_errors=True)
        with tracer.span("sources.sinks.write_ena_tab") as s:
            sinks.write_ena_tab(ena_tab, str(bench.out), partition_by_source_dir=part)
        sample["sources.sinks.write_ena_tab_s"].append(s["end"] - s["start"] - t_ena)
        files_out, bytes_out = out_files(bench.out)
        sample["sources.sinks.files_out"].append(files_out)
        sample["sources.sinks.bytes_out"].append(bytes_out)

    bench.rounds(one_round, min_rounds=1)
    tracer.dump(bench.spans_path)
    med = {k: statistics.median(v) for k, v in sample.items()}
    med["jvm.peak_rss_mb"] = bench.peak_rss_mb()
    med["session.get_spark_s"] = session_s
    med["trace.overhead_s"] = med["cli.main_s"] - med.pop("untraced_s")
    return {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(med.items())}


def out_files(root) -> tuple[int, int]:
    files = [p for p in root.rglob("*") if p.is_file()
             and not p.name.startswith(("_", "."))]
    return len(files), sum(p.stat().st_size for p in files)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", ".bytes_in", ".bytes_out")):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"
