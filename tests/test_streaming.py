"""Structured Streaming parity tests: the same operator functions run
over readStream (file source, memory sink) must agree with their batch
execution — this is what makes the §2.11 streaming surface one code
path, not a fork."""

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from ena_database_build_spark.streaming import events as STR


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Normalized (microsecond-ts) copy of sf0.001 events, split into
    multiple files so the stream sees several micro-batches."""
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    if dict(src.dtypes).get("ts") == "bigint":
        src = src.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    out = tmp_path_factory.mktemp("events_stream")
    src.repartition(4).write.mode("overwrite").parquet(str(out))
    return str(out)


def _batch_events(spark, event_dir):
    return spark.read.parquet(event_dir)


def _run_stream(spark, stream_df, name, mode="append"):
    q = STR.run_stream_to_memory(stream_df, name, mode=mode)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, event_dir):
    # complete mode so the tail windows (which a watermark+append run
    # holds back until later data arrives) are visible for comparison
    stream = STR.read_event_stream(spark, event_dir, max_files_per_trigger=2)
    got = _run_stream(
        spark, STR.tumbling_counts(stream, "5 minutes"), "tumb", mode="complete"
    )
    want = STR.tumbling_counts(_batch_events(spark, event_dir), "5 minutes")
    cols = ["win_start", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_enrichment_stream_matches_batch(spark, event_dir):
    dim = spark.createDataFrame(
        [(u, ["gold", "silver", None][u % 3]) for u in range(0, 60, 2)],
        "user_id long, segment string",
    )
    stream = STR.read_event_stream(spark, event_dir, max_files_per_trigger=2)
    got = _run_stream(
        spark,
        STR.enrich_events(stream, dim, "15 minutes"),
        "enrich",
        mode="complete",
    )
    want = STR.enrich_events(_batch_events(spark, event_dir), dim, "15 minutes")
    cols = ["win_start", "segment", "n_events", "sum_value"]

    def rows(df):  # NULL segments sort via str key
        return sorted(
            (tuple(r[c] for c in cols) for r in df.collect()), key=str
        )

    assert rows(got) == rows(want)


def test_streaming_funnel_matches_batch_fold(spark, tmp_path, event_dir):
    from ena_database_build_spark.operators import funnel as FUN

    # time-ordered files: cross-batch order matters for funnel state
    # (a late event that should have advanced an earlier stage is
    # dropped by design); range-partitioning by ts makes each
    # micro-batch strictly later than the previous one
    src = spark.read.parquet(event_dir)
    ordered_dir = str(tmp_path / "ordered")
    src.repartitionByRange(4, "ts").write.mode("overwrite").parquet(
        ordered_dir
    )
    # FileStreamSource orders the initial listing by MODIFICATION
    # time, and parquet tasks finish in arbitrary order — pin mtimes
    # to file-name order so micro-batches really arrive time-ordered
    import os
    import time as _time

    parts = sorted(
        p for p in os.listdir(ordered_dir) if p.startswith("part-")
    )
    base = _time.time()
    for i, p in enumerate(parts):
        os.utime(os.path.join(ordered_dir, p), (base + i, base + i))
    steps = ["view", "click", "purchase"]
    stream = STR.read_event_stream(spark, ordered_dir, max_files_per_trigger=1)
    got = _run_stream(
        spark, STR.streaming_funnel(stream, steps), "funnel", mode="update"
    )
    # update mode emits one row per user per batch; stage is monotonic,
    # so the final state is the MAX emission (collect() does not
    # guarantee batch order across a memory sink's partitions)
    final = {}
    for r in got.collect():
        final[r.user_id] = max(final.get(r.user_id, 0), r.stage)
    want = {
        r.user_id: r.stage
        for r in FUN.funnel_stages(
            spark.read.parquet(ordered_dir), steps
        ).collect()
    }
    assert final == want


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs the protobuf package "
    "(Spark's Python state-server protocol), not installed in this "
    "environment; the applyInPandasWithState twins are fully tested",
)
def test_top_purchases_stream_matches_batch(spark, event_dir):
    # transformWithState requires a multi-column-family state store:
    # the default HDFSBackedStateStoreProvider rejects it outright, so
    # this query (and only this query) runs on RocksDB — the provider
    # Spark 4 ships for exactly this API.  Conf is read at query
    # start; restore afterwards so the applyInPandasWithState tests
    # keep their default-provider coverage.
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = STR.read_event_stream(
            spark, event_dir, max_files_per_trigger=2
        )
        got = _run_stream(
            spark, STR.top_purchases_stream(stream, k=3), "topk", mode="update"
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    # update mode re-emits per batch; the final state per user is the
    # longest/most-complete leaderboard — reduce by taking the row
    # with the lexicographically largest (desc-sorted) array, which
    # for a monotonically improving top-k IS the last state
    final = {}
    for r in got.collect():
        cur = tuple(r.top_values)
        if cur > final.get(r.user_id, ()):
            final[r.user_id] = cur
    want = {
        r.user_id: tuple(r.top_values)
        for r in STR.top_purchases_batch(
            _batch_events(spark, event_dir), k=3
        ).collect()
    }
    assert final == want


def test_session_stream_matches_batch(spark, event_dir):
    stream = STR.read_event_stream(spark, event_dir, max_files_per_trigger=2)
    got = _run_stream(
        spark,
        STR.session_aggregates(stream, "10 minutes", watermark="1 hour"),
        "sess",
        mode="complete",
    )
    want = STR.session_aggregates(_batch_events(spark, event_dir), "10 minutes")
    cols = ["user_id", "session_start", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def _session_parity(spark, ev, gap="10 minutes", bucket="1 hour"):
    """Native session_window vs the two-phase bucketed twin: exact on
    user/boundaries/counts, tolerant on sum_value (fragment partial
    sums legally reorder float addition before the shared 2-dp
    round)."""
    cols = ["user_id", "session_start", "session_end", "n_events"]
    a = _rows(STR.session_aggregates(ev, gap), cols + ["sum_value"])
    b = _rows(STR.session_aggregates_bucketed(ev, gap, bucket), cols + [
        "sum_value"])
    assert [r[:4] for r in a] == [r[:4] for r in b]
    for ra, rb in zip(a, b):
        assert abs((ra[4] or 0.0) - (rb[4] or 0.0)) < 1e-6, (ra, rb)


def test_bucketed_sessionize_parity_real_corpus(spark, event_dir):
    _session_parity(spark, _batch_events(spark, event_dir))


def test_bucketed_sessionize_parity_hot_user(spark, event_dir):
    """The skew-corpus shape the bucketed form exists for: one user
    owning half the events.  Collapse user_id deterministically and
    re-check parity — and with a bucket barely above the gap, so
    boundary-merge chains actually occur."""
    ev = _batch_events(spark, event_dir).withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(
            F.col("user_id")
        ),
    )
    _session_parity(spark, ev)
    _session_parity(spark, ev, bucket="15 minutes")


def test_bucketed_sessionize_boundary_merge(spark):
    """Crafted chain: events 9 minutes apart across three 1-hour
    buckets form ONE session (gap 10 min), including a pair EXACTLY
    gap apart (the <= merge contract); a 11-minute hole splits."""
    rows = []
    t0 = 3_600_000_000  # 01:00:00 in micros
    step = 9 * 60 * 1_000_000
    for i in range(25):  # spans >3 hours of buckets
        rows.append((i, t0 + i * step, 7, "view", 1.0, None))
    # exactly-gap pair in its own region, then an 11-min hole
    t1 = t0 + 40 * 3_600 * 1_000_000
    rows += [
        (100, t1, 8, "view", 1.0, None),
        (101, t1 + 10 * 60 * 1_000_000, 8, "view", 1.0, None),  # == gap
        (102, t1 + 21 * 60 * 1_000_000 + 1, 8, "view", 1.0, None),
    ]
    ev = spark.createDataFrame(
        [(i, e // 1_000_000, u, k, v, p) for i, e, u, k, v, p in rows],
        "event_id long, ts_s long, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s")
    _session_parity(spark, ev)
    got = _rows(
        STR.session_aggregates_bucketed(ev, "10 minutes", "1 hour"),
        ["user_id", "n_events"],
    )
    assert (7, 25) in got          # one merged chain across buckets
    assert (8, 2) in got and (8, 1) in got  # ==gap merges, >gap splits


def test_sliding_stream_matches_batch(spark, event_dir):
    stream = STR.read_event_stream(spark, event_dir, max_files_per_trigger=2)
    got = _run_stream(
        spark,
        STR.sliding_rates(stream, "10 minutes", "5 minutes"),
        "slide",
        mode="complete",
    )
    want = STR.sliding_rates(
        _batch_events(spark, event_dir), "10 minutes", "5 minutes"
    )
    cols = ["win_start", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_dedup(spark, event_dir):
    src = _batch_events(spark, event_dir)
    doubled_dir = event_dir + "_doubled"
    src.unionByName(src).repartition(4).write.mode("overwrite").parquet(doubled_dir)
    stream = STR.read_event_stream(spark, doubled_dir, max_files_per_trigger=2)
    got = _run_stream(spark, STR.stream_dedup(stream), "dedup")
    assert got.count() == src.count()
    assert got.select("event_id").distinct().count() == src.count()


def test_running_user_totals_stateful(spark, event_dir):
    from pyspark.sql import functions as F

    stream = STR.read_event_stream(spark, event_dir, max_files_per_trigger=1)
    got = _run_stream(
        spark, STR.running_user_totals(stream), "totals", mode="update"
    )
    # last update per user == full-history totals
    from pyspark.sql import Window
    import pyspark.sql.functions as SF

    final = (
        got.withColumn(
            "rn",
            SF.row_number().over(
                Window.partitionBy("user_id").orderBy(SF.desc("n_events"))
            ),
        )
        .where("rn = 1")
        .select("user_id", "n_events", "total_value")
    )
    want = (
        _batch_events(spark, event_dir)
        .groupBy("user_id")
        .agg(
            SF.count("*").alias("n_events"),
            SF.round(SF.sum("value"), 6).alias("total_value"),
        )
    )
    cols = ["user_id", "n_events", "total_value"]
    assert _rows(final, cols) == _rows(want, cols)


def test_purchase_attribution_stream_matches_batch(spark, event_dir):
    # stream-stream interval self-join (inner).  The fixture's files
    # are randomly time-ordered, so exact parity needs unbounded state
    # (watermark=None); the watermarked run may evict late rows but
    # must emit a subset of the batch result.
    cols = ["purchase_id", "view_id", "user_id", "gap_s"]
    batch = _rows(
        STR.purchase_attribution(_batch_events(spark, event_dir)), cols
    )
    # guard against vacuous parity: [] == [] proves nothing
    assert len(batch) > 0
    unbounded = _run_stream(
        spark,
        STR.purchase_attribution(
            STR.read_event_stream(spark, event_dir), watermark=None
        ),
        "attrib_unbounded",
    )
    assert _rows(unbounded, cols) == batch
    assert all(0 <= r[3] <= 600 for r in batch)
    bounded = _run_stream(
        spark,
        STR.purchase_attribution(STR.read_event_stream(spark, event_dir)),
        "attrib_bounded",
    )
    assert set(_rows(bounded, cols)) <= set(batch)


def test_dedup_ingest_stream_builds_unique_corpus(spark, tmp_path):
    """Continuous deduplicating ingestion: streaming doc batches land
    in a parquet corpus with content-unique rows, min-id winners, and
    replay-idempotence (a re-ingested batch appends nothing)."""
    from ena_database_build_spark.streaming.ingest import (
        dedup_append_batch,
        dedup_ingest_stream,
    )

    import glob
    import shutil

    src = tmp_path / "incoming"
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def stage(df, name):
        # the file source lists plain files, not nested dirs: extract
        # the part file from a scratch write
        scratch = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(scratch))
        shutil.copy(glob.glob(str(scratch / "part-*.parquet"))[0], src / name)

    # batch 2 repeats batch-1 content under new ids and dups inside
    # itself; staged between processAllAvailable calls so micro-batch
    # order is deterministic
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "ALPHA  beta")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, "gamma delta"), (11, "epsilon"), (12, "epsilon")],
        "doc_id long, text string",
    )
    stage(b1, "f1.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = dedup_ingest_stream(stream, corpus, ckpt)
    try:
        q.processAllAvailable()
        stage(b2, "f2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()
    }
    # batch1: 3 normalizes to batch-mate 1's fingerprint -> min-id 1
    # batch2: 10 matches corpus doc 2; 12 dups batch-mate 11
    assert set(got) == {1, 2, 11}
    # replaying an already-ingested batch appends nothing
    assert dedup_append_batch(b2, corpus) == 0
    assert spark.read.parquet(corpus).count() == 3


def test_dedup_ingest_stream_is_format_agnostic_orc(spark, tmp_path):
    """The foreachBatch dedup sink works unchanged against an ORC
    corpus (round-3 VERDICT item #7): same dedup outcome, same
    replay-idempotence, only the storage format differs."""
    from ena_database_build_spark.streaming.ingest import (
        dedup_append_batch,
        dedup_ingest_stream,
    )

    import glob
    import shutil

    src = tmp_path / "incoming"
    corpus = str(tmp_path / "corpus_orc")
    ckpt = str(tmp_path / "ckpt_orc")
    src.mkdir()

    def stage(df, name):
        scratch = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(scratch))
        shutil.copy(glob.glob(str(scratch / "part-*.parquet"))[0], src / name)

    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "ALPHA  beta")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, "gamma delta"), (11, "epsilon"), (12, "epsilon")],
        "doc_id long, text string",
    )
    stage(b1, "f1.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = dedup_ingest_stream(stream, corpus, ckpt, fmt="orc")
    try:
        q.processAllAvailable()
        stage(b2, "f2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.read.orc(corpus).collect()}
    assert got == {1, 2, 11}
    assert dedup_append_batch(b2, corpus, fmt="orc") == 0
    assert spark.read.orc(corpus).count() == 3


def test_stream_rate_anomalies_matches_batch(spark, event_dir):
    """Streaming rate scoring against a static baseline agrees with
    the batch run of the same function: stream-static broadcast join,
    one code path; unknown types fail open (is_anomaly False, z NULL
    semantics coalesced)."""
    baseline = spark.createDataFrame(
        [("view", 2.0, 1.5), ("click", 2.0, 1.5), ("purchase", 1.0, 0.0),
         ("error", 0.5, 0.25), ("signup", 1.0, 0.5)],
        "event_type string, mean_n double, std_n double",
    )
    stream = STR.read_event_stream(spark, event_dir, max_files_per_trigger=2)
    got = _run_stream(
        spark,
        STR.stream_rate_anomalies(stream, baseline, "1 hour"),
        "ranom",
        mode="complete",
    )
    want = STR.stream_rate_anomalies(
        _batch_events(spark, event_dir), baseline, "1 hour"
    )
    cols = ["win_start", "event_type", "n", "z", "is_anomaly"]
    assert _rows(got, cols) == _rows(want, cols)
    # zero-std baseline types always score z = 0, never anomalous
    zero_std = [r for r in got.collect() if r.event_type == "purchase"]
    assert zero_std and all(
        r.z == 0.0 and not r.is_anomaly for r in zero_std
    )


def test_ingest_then_monitor_composite(spark, tmp_path):
    """The ops loop end-to-end: stream documents through the
    deduplicating ingestion sink, then run the batch drift/profile
    surface over the ingested corpus — the two halves share nothing
    but the corpus files, which is the production contract."""
    import glob
    import shutil

    from ena_database_build_spark.operators.drift import psi_report
    from ena_database_build_spark.streaming.ingest import (
        dedup_ingest_stream,
    )

    src = tmp_path / "in"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    b1 = spark.createDataFrame(
        [(i, f"doc body {i}", float(i % 7)) for i in range(40)],
        "doc_id long, text string, score double",
    )
    # first 20 duplicate batch-1 bodies (drop); last 20 are fresh
    b2 = spark.createDataFrame(
        [(100 + i,
          f"doc body {i}" if i < 20 else f"fresh body {i}",
          float(i % 7) + 3.0)
         for i in range(40)],
        "doc_id long, text string, score double",
    )

    def stage(df, name):
        scratch = tmp_path / f"_s_{name}"
        df.coalesce(1).write.parquet(str(scratch))
        shutil.copy(
            glob.glob(str(scratch / "part-*.parquet"))[0], src / name
        )

    stage(b1, "f1.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string, score double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = dedup_ingest_stream(stream, corpus, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        stage(b2, "f2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    ingested = spark.read.parquet(corpus)
    # batch2's first 20 docs duplicate batch1 bodies -> dropped
    assert ingested.count() == 60
    # drift gate over the ingested corpus: batch2 survivors carry the
    # +3 score shift, so PSI between the id cohorts must be positive
    ref = ingested.where(F.col("doc_id") < 100)
    cur = ingested.where(F.col("doc_id") >= 100)
    row = psi_report(ref, cur, "score").head()
    assert row.n_ref == 40 and row.n_cur == 20
    assert row.psi > 0.1


def test_ingest_stream_resumes_from_checkpoint(spark, tmp_path):
    """Operational recovery: stop the ingestion query after batch 1,
    start a NEW query from the same checkpoint, deliver batch 2 —
    the corpus ends complete with no duplicates and the restarted
    query does not re-append batch 1 (checkpoint + content-level
    idempotence together give exactly-once corpus rows)."""
    import glob
    import shutil

    from ena_database_build_spark.streaming.ingest import (
        dedup_ingest_stream,
    )

    src = tmp_path / "in"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ck")

    def stage(df, name):
        scratch = tmp_path / f"_s_{name}"
        df.coalesce(1).write.parquet(str(scratch))
        shutil.copy(
            glob.glob(str(scratch / "part-*.parquet"))[0], src / name
        )

    b1 = spark.createDataFrame(
        [(i, f"first {i}") for i in range(10)],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(100 + i, f"second {i}") for i in range(10)],
        "doc_id long, text string",
    )
    stage(b1, "f1.parquet")

    def start():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        return dedup_ingest_stream(stream, corpus, ckpt)

    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert spark.read.parquet(corpus).count() == 10

    stage(b2, "f2.parquet")
    q2 = start()  # fresh query object, same checkpoint
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = spark.read.parquet(corpus)
    assert got.count() == 20
    assert got.select("doc_id").distinct().count() == 20


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs the protobuf package "
    "(Spark's Python state-server protocol), not installed in this "
    "environment; the batch bucketed twin is fully parity-tested",
)
def test_bucketed_sessionize_stream_matches_batch(spark, tmp_path):
    """Streaming twin of the hot-user sessionize escape hatch (r9
    verdict #6): session_aggregates_bucketed_stream on a replayed
    time-ordered corpus must emit EXACTLY the batch bucketed form's
    sessions, restricted to sessions closed below the final watermark
    (streaming can never finalize the open tail).  The corpus plants
    a 50%-hot user, NULL values, and sessions straddling the bucket
    boundary; a far-future sentinel advances the final watermark so
    every planted session closes."""
    import glob
    import os
    import shutil

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    d = str(tmp_path)
    os.makedirs(d + "/in")
    ev = spark.range(1600).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise(F.col("id") % 5)
        .cast("long")
        .alias("user_id"),
        F.timestamp_seconds(
            F.col("id") * 67
            + (F.col("id") % 13) * 17
            + F.floor(F.col("id") / 97) * 1300
        ).alias("ts"),
        F.lit("click").alias("event_type"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise((F.col("id") % 10).cast("double"))
        .alias("value"),
        F.lit(None).cast("string").alias("props"),
    )

    def dump(df, name):
        stage = d + "/stage_" + name
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.move(
            glob.glob(stage + "/part-*.parquet")[0],
            d + "/in/" + name + ".parquet",
        )
        shutil.rmtree(stage)

    # sequential id ranges -> files replay in event-time order, so the
    # watermark never drops what batch sees
    for i in range(4):
        dump(
            ev.where(
                (F.col("event_id") >= i * 400)
                & (F.col("event_id") < (i + 1) * 400)
            ),
            f"e{i:02d}",
        )
    sentinel = spark.createDataFrame(
        [(99999, 999, "click", 0.0, None)],
        "event_id long, user_id long, event_type string, value double,"
        " props string",
    ).select(
        "event_id",
        F.timestamp_seconds(F.lit(10_000_000)).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    dump(sentinel, "e99")

    try:
        stream = STR.read_event_stream(spark, d + "/in", max_files_per_trigger=1)
        got = _run_stream(
            spark,
            STR.session_aggregates_bucketed_stream(
                stream, "10 minutes", "1 hour", "1 minute"
            ),
            "bsess_stream",
            mode="append",
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    batch = spark.read.parquet(d + "/in")
    closed = F.col("session_end") < F.timestamp_seconds(F.lit(9_000_000))
    cols = [
        "user_id", "session_start", "session_end", "n_events", "sum_value",
    ]
    want = STR.session_aggregates_bucketed(
        batch, "10 minutes", "1 hour"
    ).where(closed)
    native = STR.session_aggregates(batch, "10 minutes").where(closed)
    got_rows = _rows(got, cols)
    assert len(got_rows) > 100  # non-vacuous: the corpus plants many
    assert got_rows == _rows(want, cols)
    # and the bucketed twins both agree with the native form
    assert got_rows == _rows(native, cols)


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs the protobuf package "
    "(Spark's Python state-server protocol), not installed in this "
    "environment; the batch bucketed twin is fully parity-tested",
)
def test_replay_harness_matches_batch_and_is_deterministic(spark, event_dir):
    """The r11 catalog-row harness
    (replay_session_aggregates_bucketed) must (a) equal the batch
    bucketed form on the ts-non-NULL corpus — the sentinel closes
    every real session, so no 'closed-only' filter is needed — and
    (b) be replay-deterministic: a second run over a row-SHUFFLED
    copy of the same corpus emits identical sessions (the time-range
    file split, not input order, decides the replay)."""
    batch = _batch_events(spark, event_dir)
    cols = [
        "user_id", "session_start", "session_end", "n_events", "sum_value",
    ]
    got = STR.replay_session_aggregates_bucketed(spark, batch)
    want = STR.session_aggregates_bucketed(
        batch.where(F.col("ts").isNotNull()), "10 minutes", "1 hour"
    )
    got_rows = _rows(got, cols)
    assert len(got_rows) > 10
    assert got_rows == _rows(want, cols)
    again = STR.replay_session_aggregates_bucketed(
        spark, batch.orderBy(F.md5(F.col("event_id").cast("string")))
    )
    assert _rows(again, cols) == got_rows

@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs the protobuf package "
    "(Spark's Python state-server protocol), not installed in this "
    "environment; the batch bucketed twin is fully parity-tested",
)
def test_replay_harness_survives_real_user_minus_one(spark, event_dir):
    """r11 ADVICE: a genuine user -1 in the corpus must NOT merge into
    the replay sentinel's never-closing chain (the sentinel key is now
    derived below the real key domain), so its sessions appear in the
    output exactly like the batch twin's."""
    batch = _batch_events(spark, event_dir).where(F.col("ts").isNotNull())
    # orderBy before limit: corpus is evaluated independently by the
    # replay harness and the batch twin, and an UNORDERED limit is
    # not guaranteed to pick the same 7 rows on re-evaluation
    neg = (
        batch.orderBy("event_id")
        .limit(7)
        .withColumn("user_id", F.lit(-1).cast("long"))
    )
    corpus = batch.unionByName(neg)
    cols = [
        "user_id", "session_start", "session_end", "n_events", "sum_value",
    ]
    got = STR.replay_session_aggregates_bucketed(spark, corpus)
    want = STR.session_aggregates_bucketed(corpus, "10 minutes", "1 hour")
    got_rows = _rows(got, cols)
    assert any(r[0] == -1 for r in got_rows)  # the planted user survives
    assert got_rows == _rows(want, cols)


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs the protobuf package "
    "(Spark's Python state-server protocol), not installed in this "
    "environment; the batch bucketed twin is fully parity-tested",
)
def test_replay_harness_is_batching_invariant(spark, event_dir):
    """r13: max_files_per_trigger groups adjacent in-order range files
    into one micro-batch to amortize the per-batch TWS spin-up; the
    watermark no-drop argument holds for any batching (batch N's
    watermark derives from strictly earlier ranges), so the emitted
    sessions must be identical at every setting."""
    batch = _batch_events(spark, event_dir).where(F.col("ts").isNotNull())
    cols = [
        "user_id", "session_start", "session_end", "n_events", "sum_value",
    ]
    one = STR.replay_session_aggregates_bucketed(
        spark, batch, max_files_per_trigger=1
    )
    grouped = STR.replay_session_aggregates_bucketed(
        spark, batch, max_files_per_trigger=9
    )
    assert _rows(one, cols) == _rows(grouped, cols)
