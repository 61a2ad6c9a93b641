"""Physical-plan shape assertions for the curation/packing operators:
the scale contracts (map-only where claimed, bounded exchange counts,
no full-relation single-partition shuffles) pinned as regression tests.
"""

import re

from conftest import SF_DIR
from pyspark.sql import functions as F

from ena_database_build_spark.operators import curation as CUR
from ena_database_build_spark.operators import packing as PK


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> list[str]:
    # one line per Exchange, excluding runtime-reused ones
    return [
        ln
        for ln in plan.splitlines()
        if re.search(r"\bExchange\b", ln)
        and "ReusedExchange" not in ln
        and "BroadcastExchange" not in ln
    ]


def _docs(spark, n=50):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma w{i} delta epsilon") for i in range(n)],
        "doc_id long, text string",
    )


def test_pii_scrub_is_map_only(spark):
    df = _docs(spark).select(
        "doc_id", CUR.pii_redact(F.col("text")).alias("red")
    )
    plan = _executed_plan(df)
    assert not _exchanges(plan), plan


def test_repetition_stats_is_map_only(spark):
    plan = _executed_plan(CUR.repetition_stats(_docs(spark)))
    assert not _exchanges(plan), plan


def test_bm25_exchange_budget(spark):
    # round-5 contract: the big tf relation shuffles exactly TWICE
    # (the tf aggregation and the doc ranking window); doc_freq is an
    # aggregate READING THE SAME tf exchange (ReusedExchange — the
    # sum(when(tf >= 1, 1)) alignment), shuffling only vocabulary-
    # sized partial counts, and joins back however AQE decides
    # (broadcast when the df-map is small, skew-splittable shuffle
    # join when it is not — a window over term would pin a term's
    # whole posting list to one un-splittable task).  Corpus stats
    # stay a 1-row broadcast.
    out = CUR.bm25_top_terms(_docs(spark), k=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    hashed = [
        ln for ln in _exchanges(final) if "hashpartitioning" in ln
    ]
    # tf agg + tiny df-map partial counts + doc window
    assert len(hashed) <= 3, final
    assert final.count("ReusedExchange") >= 1, final
    assert "BroadcastExchange" in final
    # the explode/tokenize subtree materializes once; the only other
    # scan is the map-side corpus-stats pass over the raw rows
    assert final.count("Scan ") == 2, final


def test_pack_sequences_no_global_sort_of_rows(spark):
    # the only SinglePartition exchange may carry the 256 bucket
    # totals, never the full document relation
    plan = _executed_plan(PK.pack_sequences(_docs(spark), budget=10))
    single = [
        ln for ln in plan.splitlines() if "Exchange SinglePartition" in ln
    ]
    assert len(single) <= 1, plan
    # the doc-level cumsum partitions by bucket, so a hashpartitioning
    # exchange on _bucket must exist
    assert re.search(r"hashpartitioning\(_bucket", plan), plan


def test_decontaminate_no_cartesian(spark):
    plan = _executed_plan(CUR.decontaminate(_docs(spark), k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_documents_is_map_only(spark):
    plan = _executed_plan(PK.chunk_documents(_docs(spark), size=4, stride=3))
    assert not _exchanges(plan), plan


def test_global_shuffle_exchange_budget(spark):
    from ena_database_build_spark.operators.sampling import global_shuffle

    plan = _executed_plan(global_shuffle(_docs(spark), n_shards=4))
    # bucket-window shuffle + the 256-row offsets aggregation (tiny);
    # the offsets join must come back as a broadcast, never a shuffle
    # of the full relation
    assert len(_exchanges(plan)) <= 3, plan
    assert "BroadcastHashJoin" in plan, plan


def test_dedup_incremental_no_nested_loop(spark):
    from ena_database_build_spark.operators.dedup import dedup_incremental

    inc = _docs(spark)
    exist = _docs(spark, 20)
    out = dedup_incremental(inc, exist)
    out.collect()  # Partial/Final split only shows in the final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    # the corpus anti-join must be a hash join on the fingerprint (the
    # winner selection is a window over the same partitioning, not a
    # join) — a nested-loop/cartesian here would be quadratic
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(_exchanges(plan)) <= 4, plan
    # the in-batch winner window must carry the rank-1 group limit
    # (WindowGroupLimit) so a fingerprint shared by millions of
    # identical rows is trimmed before/at the window instead of
    # materializing the whole group frame
    assert "row_number(), 1," in plan, plan


def test_quantile_gate_single_upstream_evaluation(spark):
    """The threshold branch and the filter branch must read the SAME
    exchange of the scored relation (ReusedExchange) — a second scan
    would re-execute the expensive upstream scoring at every scale."""
    from ena_database_build_spark.operators.quantiles import quantile_gate

    scored = _docs(spark, 40).select(
        "doc_id", (F.length("text") % 13 / 13.0).alias("quality")
    )
    gated = quantile_gate(
        scored, "quality", q=0.1, id_col="doc_id", bucket_width=0.1
    )
    # AQE performs the exchange dedup at runtime, so the reuse is only
    # visible in the FINALIZED plan of an executed action on this df
    # (the noop-write helper builds a separate QueryExecution)
    gated.collect()
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    # the contract itself: the scored relation materializes ONCE (the
    # id-hash exchange) and every other consumer is a reuse.  A second
    # scan here is the inner-join isnotnull(_bkt) inference pushing a
    # predicate below the shared exchange on one branch only (see
    # _cumulative_counts' LEFT-join note).
    assert final.count("Scan ExistingRDD") == 1, final
    assert final.count("ReusedExchange") >= 2, final
    # and no window may touch row-level data: the only full-row
    # exchange is the balanced id-hash repartition; windows run over
    # distinct-value count rows (tie mass collapses in the aggregate)
    assert "REPARTITION_BY_COL" in final, final
    for ln in final.splitlines():
        if "windowspecdefinition(doc_id" in ln:
            raise AssertionError("row-level window found: " + ln)


def test_quantile_gate_matches_two_pass_form(spark):
    """Same rows as the naive two-pass threshold+filter (via the
    exact_quantiles operator), incl. tie and interpolation cases."""
    from ena_database_build_spark.operators.quantiles import (
        exact_quantiles,
        quantile_gate,
    )

    vals = [0.1, 0.1, 0.2, 0.35, 0.35, 0.35, 0.6, 0.8, 0.9, 1.0, None]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, quality double"
    )
    for q in (0.1, 0.25, 0.5, 0.9):
        thr = exact_quantiles(
            df.withColumn("_g", F.lit(1)),
            "quality",
            by=["_g"],
            qs=[q],
            bucket_width=0.05,
        ).collect()[0]["value"]
        naive = sorted(
            r["doc_id"]
            for r in df.where(F.col("quality") >= thr).collect()
        )
        gated = sorted(
            r["doc_id"]
            for r in quantile_gate(
                df, "quality", q=q, id_col="doc_id", bucket_width=0.05
            ).collect()
        )
        assert gated == naive, (q, thr, gated, naive)


def test_psi_report_no_second_snapshot_scan(spark, tmp_path):
    """The new-group branch must read the NULL-bin rows of the
    already-counted relation (ReusedExchange over the tiny counted
    exchange), never anti-join against a SECOND scan of the current
    snapshot: each snapshot is consumed once by the union plus the
    reference-only edges pass — 3 source scans total."""
    from ena_database_build_spark.operators.drift import psi_report

    rp, cp = str(tmp_path / "ref"), str(tmp_path / "cur")
    spark.createDataFrame(
        [("a", float(i % 7)) for i in range(60)], "k string, v double"
    ).write.parquet(rp)
    spark.createDataFrame(
        [("a", float(i % 9)) for i in range(40)]
        + [("newgrp", 1.0), ("newgrp", 5.0)],
        "k string, v double",
    ).write.parquet(cp)
    out = psi_report(
        spark.read.parquet(rp), spark.read.parquet(cp), "v", keys=["k"]
    )
    rows = {r.k: r for r in out.collect()}
    assert rows["newgrp"].n_cur == 2 and rows["newgrp"].psi is None
    assert rows["a"].n_ref == 60 and rows["a"].n_cur == 40
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan
    # ref x2 (edges + union) + cur x1 (union) — the anti-join form
    # scanned cur twice
    assert final.count("Scan parquet") == 3, final
    assert final.count("ReusedExchange") >= 1, final


def test_quantile_normalize_single_upstream_evaluation(spark):
    """quantile_normalize must materialize its input ONCE (the
    id-hash exchange; rank map, offsets and total are all reuses)
    and never re-scan the upstream: the contract that lets chained
    score calibrations (quality_ensemble) run over a 100 TB scored
    relation with one scoring pass.  Before the round-5 restructures
    the ensemble's executed plan held 83 parquet scans; it is now 3.
    No window may touch row-level data: ranks come from
    distinct-value count rows (ties collapse in the aggregate), so a
    degenerate score distribution cannot pin one task."""
    from ena_database_build_spark.operators.quantiles import (
        quantile_normalize,
    )

    scored = _docs(spark, 40).select(
        "doc_id", (F.length("text") % 13 / 13.0).alias("quality")
    )
    for kw in [dict(bounds=(0.0, 1.0)), dict()]:  # bounds and edges paths
        out = quantile_normalize(scored, "quality", bins=16, **kw)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in plan, plan
        assert final.count("Scan ExistingRDD") == 1, final
        assert final.count("ReusedExchange") >= 2, final
        for ln in final.splitlines():
            if "windowspecdefinition(doc_id" in ln:
                raise AssertionError("row-level window found: " + ln)


def test_quantile_normalize_bounds_matches_generic_path(spark):
    """Any monotone binning yields identical ranks: the bounds path
    (including values clamped outside the declared range) must agree
    row-for-row with the data-min/max path."""
    from ena_database_build_spark.operators.quantiles import (
        quantile_normalize,
    )

    vals = [0.13, -0.5, 0.13, 0.99, 1.7, 0.42, 0.0, 1.0, None, 0.335]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, v double"
    )
    generic = {
        r.doc_id: r.qnorm
        for r in quantile_normalize(df, "v", bins=8).collect()
    }
    bounded = {
        r.doc_id: r.qnorm
        for r in quantile_normalize(
            df, "v", bins=8, bounds=(0.0, 1.0)
        ).collect()
    }
    assert bounded == generic and len(bounded) == 9


def test_frame_sample_plan_is_map_only(spark):
    from ena_database_build_spark.operators import multimodal as M

    payload = M.attach_binary_payload(_docs(spark))
    plan = _executed_plan(M.frame_sample_plan(payload, every_n=3))
    assert not _exchanges(plan), plan


def test_bloom_probe_is_map_only(spark):
    # contract: the probe side joins the broadcast bits table once per
    # hash function with NO shuffle of the probed relation — that's
    # the whole point of pre-filtering before an exact join
    from ena_database_build_spark.operators import sketch as SK

    vals = spark.createDataFrame(
        [(f"v{i}",) for i in range(100)], ["value"]
    )
    bits = SK.bloom_build(vals, "value")
    plan = _executed_plan(SK.bloom_probe(vals, bits, "value"))
    probe_side = plan.split("BroadcastExchange")[0]
    assert not _exchanges(probe_side), plan


def test_dq_ri_coverage_no_fact_shuffle(spark):
    # contract: referential integrity broadcasts the distinct key side;
    # the fact relation reaches the final 1-row agg without a
    # hash-partition exchange of fact rows
    from ena_database_build_spark.operators import dq as DQ

    fact = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "id long, fk long"
    )
    dim = spark.createDataFrame([(i,) for i in range(5)], "pk long")
    plan = _executed_plan(DQ.ri_coverage(fact, "fk", dim, "pk", "ri"))
    # the dim side's key-sized distinct may hash-exchange (beneath the
    # BroadcastExchange); the FACT side — everything above it — must
    # reach the 1-row agg with no hash exchange of fact rows
    fact_side = plan.split("BroadcastExchange")[0]
    hashed = [
        ln for ln in _exchanges(fact_side) if "hashpartitioning" in ln
    ]
    assert not hashed, plan


def test_bpe_pair_counts_single_shuffle(spark):
    # contract: pair expansion is map-only over the vocabulary; the
    # only exchange is the pair-count aggregation itself
    from ena_database_build_spark.operators import bpe as B

    wf = B.word_freqs(_docs(spark)).select(
        B.chars(F.col("word")).alias("syms"), "freq"
    )
    plan = _executed_plan(B.pair_counts(wf))
    # word_freqs' own agg + the pair agg = 2 hash exchanges max
    hashed = [ln for ln in _exchanges(plan) if "hashpartitioning" in ln]
    assert len(hashed) <= 2, plan


def test_parquet_scan_pushdown_and_pruning(spark, tmp_path):
    # contract from the scale brief: filters and projections must reach
    # the parquet scan — PushedFilters carries the predicate and
    # ReadSchema carries ONLY the projected columns
    import re as _re

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"s{i % 3}", f"text {i}", i * 10) for i in range(100)],
        "doc_id long, source string, text string, n_chars long",
    ).write.mode("overwrite").parquet(p)
    df = (
        spark.read.parquet(p)
        .where(F.col("n_chars") > 500)
        .select("doc_id", "source")
    )
    plan = _executed_plan(df)
    pushed = _re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "GreaterThan(n_chars,500)" in pushed.group(1), plan
    schema = _re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in schema.group(1).split(",")}
    assert "text" not in cols, plan  # projection pruned the wide column
    assert {"doc_id", "source"} <= cols, plan


def _final_scan_count(df) -> int:
    """`Scan parquet` occurrences in the FINAL adaptive plan only
    (executedPlan().toString() appends the initial plan, which would
    double-count).  Mirrors tools/scan_audit.py."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].count("Scan parquet")


def test_quality_ensemble_scan_budget(spark):
    """The composed calibration query must evaluate its upstream ONCE
    per signal: before the round-5 restructure (bounded calibration +
    aligned projections, catalog.py q_quality_ensemble) the executed
    plan held 83 parquet scans; it is now 3 (docs once per signal
    branch + the narrow ensemble join).  This pins the defect class
    tools/scan_audit.py sweeps for — Catalyst column pruning desyncing
    exchange subtrees until AQE reuse stops firing."""
    from ena_database_build_spark.plans.catalog import CATALOG

    df = CATALOG["quality_ensemble"].spark(spark, SF_DIR)
    assert _final_scan_count(df) <= 3


def test_logprob_scoring_scan_budget(spark):
    """unigram/bigram corpus scoring reads the token explode ONCE:
    the term/context statistics are aligned aggregates over the same
    exchange, not windows that re-shuffle the token relation per
    statistic (round-5 restructure)."""
    from ena_database_build_spark.plans.catalog import CATALOG

    assert _final_scan_count(CATALOG["unigram_logprob"].spark(spark, SF_DIR)) <= 2
    assert _final_scan_count(CATALOG["bigram_logprob"].spark(spark, SF_DIR)) <= 2


def test_bigram_logprob_pairs_compose_map_side(spark):
    """r13: bigram pairs come from zipped shifted slices of the
    per-doc token array — the token relation must NOT shuffle by doc
    for a lead window before the (doc, w1, w2) aggregation can reduce
    it.  The plan may keep its aggregate/join exchanges, but no
    Window node survives anywhere."""
    from ena_database_build_spark.plans.catalog import CATALOG

    plan = (
        CATALOG["bigram_logprob"]
        .spark(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan


def test_span_dedup_skew_safe_gram_verdict(spark):
    """Contract from the docstring: k-grams compose map-side (no
    pre-shuffle lead window), the gram verdict is an AGGREGATE (its
    exchange carries ~one row per distinct gram after map-side
    combine) joined back hint-free — never a window over the gram
    hash, which would co-locate a boilerplate gram's every occurrence
    in one un-splittable task — and token rows shuffle by doc only
    for the span cover.  At this scale AQE must broadcast the
    dup-gram map: no sort-merge join survives, no window is keyed on
    the gram, and the only exchanges are the gram aggregate, the
    pre-planned probe stage AQE reads locally, and the doc cover."""
    out = CUR.span_dedup(_docs(spark), k=3)
    out.collect()  # AQE must finalize for the broadcast swap-in
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    hashed = [ln for ln in _exchanges(final) if "hashpartitioning" in ln]
    assert len(hashed) <= 3, final
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final, final
    # the only window partitioning is by doc id (cover + none on _g)
    import re as _re

    for m in _re.finditer(
        r"Window .*?windowspecdefinition\(([^,]+),", final
    ):
        assert "doc_id" in m.group(1), m.group(0)


def test_p3_extraction_single_regex_evaluation(spark):
    """r7 verdict #3: the explode-first range extraction must evaluate
    regexp_extract_all exactly ONCE per input line — the gate/extract
    pair must not re-run the pattern — and the whole map side (regex +
    explode + endpoint split) must stay inside one codegen'd map stage
    with no exchange."""
    from ena_database_build_spark.functions import locations as L

    df = spark.createDataFrame(
        [(1, "10..20,x,300..>350"), (2, "no ranges here")],
        "id long, loc string",
    )
    out = L.explode_ranges(df, F.col("loc"), "id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all") == 1, plan
    phys = _executed_plan(out)
    final = phys.split("== Initial Plan ==")[0]
    assert not _exchanges(final), final  # map-only
    assert "Generate explode" in final, final
    # and the values are right (incl. the >-marker strip)
    rows = {(r["id"], r["range_start"], r["range_end"]) for r in out.collect()}
    assert rows == {(1, 10, 20), (1, 300, 350)}

def test_rolling_fingerprints_is_map_only(spark):
    """r12 k-gram re-platform contract: the winnowing fingerprint is
    ONE projection over the scan — zero exchanges (the r11 form paid a
    doc-keyed window exchange plus a groupBy)."""
    from ena_database_build_spark.operators import textstats as T

    plan = _executed_plan(T.rolling_fingerprints(_docs(spark)))
    assert not _exchanges(plan), plan


def test_simhash_capped_census_shares_the_join_exchange(spark):
    """r12 scan-audit regression pin: the max_bucket census must ride
    the candidate join's own (band_idx, band_key) exchange, not
    re-execute the scan+simhash subtree as a separate aggregate
    branch.  In the AQE FINAL plan (collect first — the noop-write
    protocol explains a copy) the whole right join side collapses to
    one ReusedExchange and at most 3 real exchanges remain: the
    doc-spread repartition, the band exchange, and the final pair
    distinct."""
    from ena_database_build_spark.operators import dedup as D

    df = D.simhash_candidates(_docs(spark), max_bucket=64)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    real = [
        ln
        for ln in final.splitlines()
        if re.search(r"\bExchange\b", ln)
        and "ReusedExchange" not in ln
        and "BroadcastExchange" not in ln
    ]
    reused = [ln for ln in final.splitlines() if "ReusedExchange" in ln]
    assert len(reused) >= 1, final
    assert len(real) <= 3, final


def test_approx_distinct_has_no_expand(spark, tmp_path):
    """r12 Expand removal pin: mixing countDistinct with the HLL in
    one aggregate made Spark Expand-duplicate every input row; the
    pre-deduped-pairs form must plan without any Expand node."""
    from ena_database_build_spark.plans.catalog import CATALOG

    src = spark.createDataFrame(
        [(i, i % 7, f"t{i % 3}") for i in range(100)],
        "event_id long, user_id long, event_type string",
    )
    d = str(tmp_path / "events.parquet")
    src.write.mode("overwrite").parquet(d)
    # the catalog row reads <sf_dir>/events.parquet
    df = CATALOG["approx_distinct"].spark(spark, str(tmp_path))
    plan = _executed_plan(df)
    assert "Expand" not in plan, plan


def test_tpch_q5_asia_subtree_reuse(spark):
    """r14 pin of the r13 exchange-reuse claim (verdict item 4), at
    the shape that actually executes: the key-only ASIA subtree
    (nation joined to the ASIA region row) is BUILT ONCE and its
    second consumer resolves as ReusedExchange — while the final
    name attach reads a bare nation scan, NOT a rebuilt
    nation-join-region chain (column pruning strips n_name below the
    supplier/customer broadcasts regardless of how the subtree is
    projected — a semi-join build side carries only its key — so the
    r13 three-way (n_nationkey, n_name) reuse could never fire; the
    executed plan rebuilt the n_name variant anyway).  A regression
    re-triples the broadcast build: this asserts exactly 2 nation
    scans, 1 region scan, and a ReusedExchange keyed on
    n_nationkey."""
    from ena_database_build_spark.plans.catalog import CATALOG

    df = CATALOG["tpch_q5_volume"].spark(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    nation_scans = [
        ln for ln in final.splitlines() if "FileScan parquet [n_" in ln
    ]
    region_scans = [
        ln for ln in final.splitlines() if "FileScan parquet [r_" in ln
    ]
    reused = [ln for ln in final.splitlines() if "ReusedExchange" in ln]
    assert len(nation_scans) == 2, final
    assert len(region_scans) == 1, final
    assert any("n_nationkey" in ln for ln in reused), final


def test_dq_report_three_orders_scans(spark):
    """r14: the planted-defect rows explode out of the SAME scan as
    the clean rows (1-or-2-element struct array per row), so the
    report's subplans scan orders exactly 3x — metrics+customer-RI,
    uniqueness, and the lineitem-RI key side — where the r13 union
    form re-scanned orders for the planted branch of every pass (5
    scans).  Struct fields are hand-pruned per consumer: the
    uniqueness branch must read o_orderkey ALONE (nested-column
    pruning does not reach through the CASE-over-array-of-structs
    Generate, so an unpruned regression would re-widen every scan to
    all 6 columns)."""
    from ena_database_build_spark.plans.catalog import CATALOG

    df = CATALOG["dq_report"].spark(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("orders.parquet") == 3, plan
    import re as _re

    schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    orders_schemas = sorted(
        s for s in schemas if "o_orderkey" in s or "o_custkey" in s
    )
    # one 4-column metrics scan, two key-only scans
    assert orders_schemas == [
        "o_orderkey:bigint",
        "o_orderkey:bigint",
        "o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,"
        "o_totalprice:double",
    ], orders_schemas


def test_phrase_search_match_phase_is_map_only(spark):
    """r13: phrase occurrence counts come from zipping shifted slices
    of the raw token array against the broadcast top bigram — the
    posting-list (doc, pos) shuffle equi-join and its TWO extra
    posexplode passes are gone.  Only shingle_rows' top-1 subplan may
    posexplode (one Generate) and the only join is the broadcast of
    the 1-row top bigram."""
    from ena_database_build_spark.plans.catalog import CATALOG

    plan = (
        CATALOG["phrase_search"]
        .spark(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Generate") == 1, plan
