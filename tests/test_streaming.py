"""Structured Streaming ingest tests: file-source micro-batches through
windowed aggregation / dedup / custom state, checked against the batch
equivalents on the same data."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, _group_job_ids
from timebox_spark.plans.tables import load
from timebox_spark.streaming import ingest


@pytest.fixture()
def staged_events(spark, tmp_path):
    """Events split into 3 parquet chunk files (3 'arrivals')."""
    src = str(tmp_path / "incoming")
    os.makedirs(src, exist_ok=True)
    events = load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    for i in range(3):
        (
            events.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    return src, events


def test_stream_hourly_rollup_matches_batch(spark, tmp_path, staged_events):
    src, events = staged_events
    stream = ingest.read_event_stream(spark, src)
    assert stream.isStreaming
    rollup = ingest.hourly_rollup(stream)
    ingest.run_to_memory(rollup, "rollup_t", "complete", str(tmp_path / "ck1"))
    got = spark.table("rollup_t")

    expected = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_q_sum"),
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, expected.collect()))
    assert a == b


def test_stream_parquet_sink_exactly_once(spark, tmp_path, staged_events):
    src, events = staged_events
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck2")
    stream = ingest.dedup_stream(ingest.read_event_stream(spark, src))
    ingest.run_available_now(stream, "parquet", "append", ck, path=out)
    n_src = events.count()
    assert spark.read.parquet(out).count() == n_src
    # rerun with the same checkpoint: nothing new → no duplicates
    ingest.run_available_now(
        ingest.dedup_stream(ingest.read_event_stream(spark, src)),
        "parquet",
        "append",
        ck,
        path=out,
    )
    assert spark.read.parquet(out).count() == n_src


def test_stream_static_enrichment_matches_batch(spark, tmp_path, staged_events):
    src, events = staged_events
    dim = (
        events.select("event_type")
        .distinct()
        .withColumn("type_code", F.crc32("event_type").cast("long"))
    )
    stream = ingest.read_event_stream(spark, src)
    enriched = ingest.enrich_with_dim(stream, dim, on="event_type")
    ingest.run_to_memory(
        enriched.groupBy("event_type", "type_code").agg(
            F.count(F.lit(1)).alias("n")
        ),
        "enrich_t",
        "complete",
        str(tmp_path / "ck_enrich"),
    )
    got = sorted(map(tuple, spark.table("enrich_t").collect()))
    expected = sorted(
        map(
            tuple,
            events.join(F.broadcast(dim), "event_type", "left")
            .groupBy("event_type", "type_code")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect(),
        )
    )
    assert got == expected


def test_stream_dedup_drops_replayed_rows(spark, tmp_path):
    src = str(tmp_path / "dupsrc")
    os.makedirs(src, exist_ok=True)
    events = load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).limit(200)
    events.coalesce(1).write.mode("append").parquet(src)
    events.coalesce(1).write.mode("append").parquet(src)  # full replay
    stream = ingest.dedup_stream(ingest.read_event_stream(spark, src))
    out = str(tmp_path / "dupout")
    ingest.run_available_now(stream, "parquet", "append", str(tmp_path / "ck3"), path=out)
    assert spark.read.parquet(out).count() == 200


def test_session_rollup_stream(spark, tmp_path, staged_events):
    src, events = staged_events
    sessions = ingest.session_rollup(ingest.read_event_stream(spark, src))
    ingest.run_to_memory(sessions, "sessions_t", "complete", str(tmp_path / "ck4"))
    got = spark.table("sessions_t")
    batch = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert got.count() == batch.count()
    assert got.agg(F.sum("n_events")).collect()[0][0] == events.count()


def test_running_max_stateful(spark, tmp_path, staged_events):
    src, events = staged_events
    stateful = ingest.running_max_per_key(ingest.read_event_stream(spark, src))
    ingest.run_to_memory(stateful, "state_t", "update", str(tmp_path / "ck5"))
    got = spark.table("state_t")
    # last emitted row per key must equal the global max/count
    final = (
        got.groupBy("event_type")
        .agg(F.max("running_max").alias("mx"), F.max("n_total").alias("n"))
        .collect()
    )
    expected = {
        r["event_type"]: (r["mx"], r["n"])
        for r in events.groupBy("event_type")
        .agg(F.max("value").alias("mx"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for row in final:
        exp = expected[row["event_type"]]
        assert row["mx"] == exp[0] and row["n"] == exp[1]


def test_sliding_rollup_stream(spark, tmp_path, staged_events):
    src, events = staged_events
    sliding = ingest.sliding_rollup(
        ingest.read_event_stream(spark, src), window="1 hour", slide="30 minutes"
    )
    ingest.run_to_memory(sliding, "sliding_t", "complete", str(tmp_path / "ck6"))
    got = spark.table("sliding_t")
    # each event lands in exactly window/slide = 2 sliding windows
    assert got.agg(F.sum("n")).collect()[0][0] == events.count() * 2


def test_late_data_dropped_in_append_mode(spark, tmp_path):
    import time

    src = str(tmp_path / "latesrc")
    os.makedirs(src, exist_ok=True)
    events = load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    on_time = events.filter(F.col("ts") >= "2024-01-10")
    late = events.filter(F.col("ts") < "2024-01-05")  # far behind watermark
    on_time.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "lateout")
    ck = str(tmp_path / "ck7")
    rollup = ingest.hourly_rollup(
        ingest.read_event_stream(spark, src, max_files_per_trigger=1),
        watermark="1 hour",
    )
    ingest.run_available_now(rollup, "parquet", "append", ck, path=out)
    n_after_first = spark.read.parquet(out).agg(F.sum("n")).collect()[0][0] or 0

    # second arrival: only rows >5 days older than the watermark
    late.coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.2)
    ingest.run_available_now(
        ingest.hourly_rollup(
            ingest.read_event_stream(spark, src, max_files_per_trigger=1),
            watermark="1 hour",
        ),
        "parquet",
        "append",
        ck,
        path=out,
    )
    n_after_late = spark.read.parquet(out).agg(F.sum("n")).collect()[0][0] or 0
    # late rows are beyond the watermark: no new closed windows emitted
    # may emit nothing new; must NOT include the late rows
    assert n_after_late - n_after_first < late.count()
    assert n_after_late <= on_time.count()


def test_stream_stream_join_matches_batch(spark, tmp_path):
    src = str(tmp_path / "ssj")
    os.makedirs(src, exist_ok=True)
    events = load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    events.coalesce(1).write.mode("append").parquet(src)

    stream = ingest.read_event_stream(spark, src)
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts", "value"
    )
    joined = ingest.stream_stream_join(
        clicks, purchases, on="user_id", max_delay="2 hours"
    ).select("click_id", F.col("r_purchase_id").alias("purchase_id"))
    ingest.run_to_memory(joined, "ssj_t", "append", str(tmp_path / "ck_ssj"))
    got = spark.table("ssj_t")

    bc = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    bp = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    batch = bc.join(bp, "user_id").filter(
        (F.col("pts") <= F.col("cts"))
        & (F.col("pts") >= F.col("cts") - F.expr("interval 2 hours"))
    ).select("click_id", "purchase_id")
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) > 0


def test_stream_npb_sink(spark, tmp_path, staged_events):
    src, events = staged_events
    from timebox_spark.sources import npb

    stream = ingest.read_event_stream(spark, src).select(
        F.date_trunc("second", "ts").alias("ts"), "event_id", "user_id", "value"
    )
    out = str(tmp_path / "npb_sink")
    q = ingest.write_stream_npb(stream, out, str(tmp_path / "ck_npb")).start()
    q.awaitTermination()
    back = npb.read_npb(spark, f"{out}/batch=*")
    assert back.count() == events.count()


def test_zscore_anomalies_single_batch_matches_batch(spark, tmp_path):
    import numpy as np

    src = str(tmp_path / "zsrc")
    os.makedirs(src, exist_ok=True)
    events = load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    events.coalesce(1).write.mode("append").parquet(src)

    stream = ingest.zscore_anomalies(ingest.read_event_stream(spark, src))
    ingest.run_to_memory(stream, "z_t", "append", str(tmp_path / "ckz1"))
    got = {
        r["event_type"]: r["n"]
        for r in spark.table("z_t").groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }

    # batch expectation with the same sample-variance formula
    pdf = events.select("event_type", "value").toPandas()
    expected = {}
    for k, grp in pdf.groupby("event_type"):
        v = grp["value"].to_numpy(dtype="float64")
        z = np.abs((v - v.mean()) / v.std(ddof=1))
        if (z > 3.0).sum():
            expected[k] = int((z > 3.0).sum())
    assert got == expected


def test_zscore_anomalies_state_accumulates_across_batches(spark, tmp_path):
    import numpy as np
    from datetime import datetime

    src = str(tmp_path / "zsrc2")
    os.makedirs(src, exist_ok=True)
    base = [
        (i, datetime(2024, 1, 1, 0, i), 1, "a", 1.0 + (i % 2) * 0.1)
        for i in range(50)
    ]
    spike = [(99, datetime(2024, 1, 1, 2, 0), 1, "a", 100.0)]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    spark.createDataFrame(base, schema).coalesce(1).write.mode("append").parquet(src)
    first = sorted(os.listdir(src))
    spark.createDataFrame(spike, schema).coalesce(1).write.mode("append").parquet(src)

    stream = ingest.zscore_anomalies(
        ingest.read_event_stream(spark, src, max_files_per_trigger=1)
    )
    ingest.run_to_memory(stream, "z_t2", "append", str(tmp_path / "ckz2"))
    rows = spark.table("z_t2").collect()

    # only the spike is anomalous, scored against the CUMULATIVE moments
    v = np.array([b[4] for b in base] + [100.0])
    z_spike = abs((100.0 - v.mean()) / v.std(ddof=1))
    assert len(rows) == 1
    assert rows[0]["value"] == 100.0
    assert abs(rows[0]["z"] - z_spike) < 1e-9


def test_session_window_merges_exact_gap_boundary(spark):
    """Two events exactly one gap apart MERGE into one session (Spark
    merges windows that touch — closed on the right); the q68 oracle's
    gaps-and-islands break condition must therefore be strictly `>`."""
    import datetime

    rows = [
        (datetime.datetime(2020, 1, 1, 0, 0, 0), 1),
        (datetime.datetime(2020, 1, 1, 0, 30, 0), 1),
        (datetime.datetime(2020, 1, 1, 1, 0, 1), 1),  # 30min+1s -> new session
    ]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    out = df.groupBy("user_id", F.session_window("ts", "30 minutes")).count()
    got = sorted((r["session_window"]["start"], r["count"]) for r in out.collect())
    assert len(got) == 2
    assert got[0] == (datetime.datetime(2020, 1, 1, 0, 0, 0), 2)
    assert got[1] == (datetime.datetime(2020, 1, 1, 1, 0, 1), 1)


def test_watermark_evicts_sliding_window_state(spark, tmp_path):
    """Bounded-state gate: as time-ordered micro-batches advance the
    watermark, closed sliding windows must LEAVE the state store —
    final state rows stay far below the peak. Red if eviction breaks
    (e.g. watermark not applied or output mode silently changed).
    bench.py's stream_stress asserts the same invariant at sf0.1."""
    from timebox_spark.plans import suites
    from timebox_spark.streaming import ingest

    src = suites._stage_stream_input(spark, SF_SMOKE, n_files=6, sentinel=True)
    sliding = ingest.sliding_rollup(
        ingest.read_event_stream(spark, src, max_files_per_trigger=1),
        watermark="1 hour",
        window="1 hour",
        slide="15 minutes",
    )
    q = (
        sliding.writeStream.format("memory")
        .queryName("evict_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_evict"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    assert len(state_rows) >= 3, "expected multiple micro-batches"
    peak, final = max(state_rows), state_rows[-1]
    assert peak > 0
    assert final < peak / 2, f"state not evicted: final={final} peak={peak}"
    assert spark.table("evict_t").count() > 0


def test_curate_stream_matches_batch(spark, tmp_path):
    """The stateless curation stages (lang-id, quality, tokens,
    classifier gate, redaction) give row-identical results streamed
    file-by-file vs computed in one batch — the map-side operators
    are engine-mode-agnostic."""
    from timebox_spark.plans.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docsrc")
    # three files -> three potential micro-batches
    docs.repartition(3).write.parquet(src)

    stream = ingest.read_document_stream(spark, src, max_files_per_trigger=1)
    assert stream.isStreaming
    curated = ingest.curate_stream(
        stream, langs=("en", "es"), min_quality_q=0, min_tokens=3,
        classifier_min_score=-10_000_000,
    )
    ingest.run_to_memory(
        curated, "curate_stream_t", "append", str(tmp_path / "ck_cur")
    )
    got = sorted(map(tuple, spark.table("curate_stream_t").collect()))

    batch = ingest.curate_stream(
        docs, langs=("en", "es"), min_quality_q=0, min_tokens=3,
        classifier_min_score=-10_000_000,
    )
    expected = sorted(map(tuple, batch.collect()))
    assert got == expected
    assert len(got) > 0


def test_near_dup_hits_stream_flags_planted_copy(spark, tmp_path):
    """Round-9 verdict task 6: a near copy arriving INSIDE one ingest
    window is flagged by the banded-signature state — doc 3 (a ' qq'
    edit of doc 1) hits with a high MinHash estimate against doc 1,
    while the unrelated doc 2 and the first-arrival doc 1 emit
    nothing. Hits are per-band; consumers dedupe by doc_id."""
    import datetime as dt

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (1, base, t0),
        (2, other, t0 + dt.timedelta(seconds=1)),
        (3, base + " qq", t0 + dt.timedelta(seconds=2)),
    ]
    src = str(tmp_path / "neardup_src")
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.parquet(src)

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(src)
    hits = ingest.near_dup_hits_stream(stream, min_est=0.5)
    ingest.run_to_memory(hits, "near_hits_t", "append", str(tmp_path / "ck_nd"))
    got = spark.table("near_hits_t").collect()
    assert got, "planted near-dup not flagged"
    flagged = {r["doc_id"] for r in got}
    assert flagged == {3}, flagged
    assert all(r["matched_id"] == 1 and r["est"] >= 0.5 for r in got)


def test_near_dup_hits_stream_fanout_invariant(spark, tmp_path):
    """Round 17: the detector hash-repartitions its input by id before
    the signature map (the per-shingle salted-md5 work otherwise runs
    in the narrow stage glued to a possibly-single-partition source).
    Partitioning must not change RESULTS: the same planted batch
    yields identical hit rows with the fanout disabled (fanout=0, the
    pre-round-17 plan), at an explicit width, and at the
    session-default width."""
    import datetime as dt

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (i, base + f" tail {i % 3}", t0 + dt.timedelta(seconds=i))
        for i in range(1, 13)
    ]
    src = str(tmp_path / "fan_src")
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.parquet(src)

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def hits_for(fanout):
        stream = spark.readStream.schema(schema).parquet(src)
        hits = ingest.near_dup_hits_stream(
            stream, min_est=0.5, fanout=fanout
        )
        name = f"fan_hits_{'d' if fanout is None else fanout}"
        ingest.run_to_memory(
            hits, name, "append", str(tmp_path / f"ck_{name}")
        )
        return sorted(
            (r["doc_id"], r["band"], r["matched_id"], round(r["est"], 9))
            for r in spark.table(name).collect()
        )

    unfanned = hits_for(0)
    assert unfanned, "planted near-dups not flagged"
    assert hits_for(4) == unfanned
    assert hits_for(None) == unfanned


def test_near_dup_hits_stream_bucket_cap_and_null_text(spark, tmp_path):
    """max_bucket=1 stores only each bucket's first arrival, yet later
    flood copies still hit against that prefix; a NULL-text row is
    dropped before banding instead of crashing the state kernel."""
    import datetime as dt

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (1, base, t0),
        (2, None, t0 + dt.timedelta(seconds=1)),
        (3, base + " qq", t0 + dt.timedelta(seconds=2)),
        (4, base + " zz", t0 + dt.timedelta(seconds=3)),
    ]
    src = str(tmp_path / "cap_src")
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.parquet(src)

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(src)
    hits = ingest.near_dup_hits_stream(stream, min_est=0.5, max_bucket=1)
    ingest.run_to_memory(hits, "cap_hits_t", "append", str(tmp_path / "ck_cap"))
    got = spark.table("cap_hits_t").collect()
    flagged = {r["doc_id"] for r in got}
    assert flagged == {3, 4}, flagged
    # the cap is per BUCKET: doc 3 always matches the globally-first
    # doc 1; doc 4 matches doc 1 in buckets they share, and may match
    # doc 3 only in a bucket where 3 (not 1) was the first arrival
    assert all(r["matched_id"] == 1 for r in got if r["doc_id"] == 3)
    assert {r["matched_id"] for r in got if r["doc_id"] == 4} <= {1, 3}
    assert any(r["matched_id"] == 1 for r in got if r["doc_id"] == 4)


def test_near_dup_hits_stream_flood_capped_state(spark, tmp_path):
    """Round-11 verdict task 1: a duplicate flood landing in one LSH
    bucket is bounded by the DEFAULT max_bucket — every copy beyond
    the cap still hits against the stored prefix, but bucket state
    never grows past the cap (asserted by reading the checkpoint's
    state store back), so flood cost is O(copies · cap · num_perm),
    not O(copies²)."""
    import datetime as dt

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    n_copies, cap = 60, 4
    rows = [
        (i, base + (" qq" if i > 1 else ""), t0 + dt.timedelta(seconds=i))
        for i in range(1, n_copies + 1)
    ]
    src = str(tmp_path / "flood_src")
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    hits = ingest.near_dup_hits_stream(stream, min_est=0.5, max_bucket=cap)
    ck = str(tmp_path / "ck_flood")
    ingest.run_to_memory(hits, "flood_hits_t", "append", ck)
    got = spark.table("flood_hits_t").collect()
    flagged = {r["doc_id"] for r in got}
    # every copy past the first two arrivals hits (docs 2.. are ' qq'
    # edits of doc 1; doc 2 itself hits doc 1 at est >= 0.5)
    assert flagged == set(range(2, n_copies + 1)), sorted(flagged)[:10]
    # copies beyond the cap match only the stored prefix (ids <= cap
    # in every bucket, since arrival order is id order everywhere)
    assert all(r["matched_id"] <= cap for r in got)
    # read the state store back from the checkpoint: no bucket holds
    # more than `cap` signatures
    state = (
        spark.read.format("statestore")
        .load(ck)
        .select(F.size("value.groupState.ids").alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]
    )
    assert state["mx"] is not None and state["mx"] <= cap, state


def test_write_stream_warc_gz_roundtrip(spark, tmp_path):
    """Round-9 verdict task 7: draining a document stream through the
    checkpointed WARC sink produces per-batch .warc.gz shard sets
    that read_warc reads back losslessly — the streaming front door
    to the crawl interchange format."""
    from timebox_spark.plans.tables import load
    from timebox_spark.sources import warc

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    src = str(tmp_path / "warc_stream_src")
    docs.repartition(2).write.parquet(src)

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(src)
    out = str(tmp_path / "warc_stream_out")
    q = ingest.write_stream_warc(
        stream, out, str(tmp_path / "ck_warc")
    ).start()
    q.awaitTermination()

    import os

    shards = [
        os.path.join(r, n)
        for r, _, names in os.walk(out)
        for n in names
        if n.endswith(".warc.gz")
    ]
    assert shards, "no .warc.gz shards written"
    back = {
        r["doc_id"]: r["text"]
        for r in warc.read_warc(spark, out, on_error="raise").collect()
    }
    want = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert back == want


def test_hourly_histogram_stream_matches_batch(spark, tmp_path, staged_events):
    """The streaming log2-histogram emits, for every closed window,
    exactly the batch sketch rows — an exact mergeable quantile
    sketch with a streaming front door."""
    from timebox_spark.operators import sketches as SK

    src, events = staged_events
    hh = ingest.hourly_histogram(
        ingest.read_event_stream(spark, src), watermark="1 hour"
    )
    ingest.run_to_memory(hh, "hh_t", "append", str(tmp_path / "ck_hh"))
    got = {
        (r["win_ts"], r["bucket"]): r["n"]
        for r in spark.table("hh_t").collect()
    }
    batch = SK.log2_histogram(events, ts_col="ts", period="hour")
    expected_all = {
        (r["period"], r["bucket"]): r["n"] for r in batch.collect()
    }
    # append mode emits only watermark-closed windows: every emitted
    # row must match batch exactly, and most windows must have closed
    assert got
    for k, n in got.items():
        assert expected_all[k] == n
    assert len(got) >= len(expected_all) - 2  # at most the tail stays open


def test_compact_corpus_arrival_order_dedup(spark):
    """The ingest compactor keeps exactly one doc per normalized-text
    fingerprint across arrival batches, with arrival order winning
    (an earlier ingest keeps the doc even if a later duplicate has a
    smaller id) and smallest-id winning within a batch."""
    from pyspark.sql import functions as F

    from timebox_spark.operators.dedup import normalize_text
    from timebox_spark.streaming import ingest

    rows = [
        (5, "alpha text"),
        (6, "beta text"),
        (7, "ALPHA   text"),   # dup of 5 within batch 0 (normalized)
        (1, "alpha text"),     # later arrival, smaller id: still dropped
        (2, "gamma text"),
        (3, "beta text"),      # dup of 6 from batch 0: dropped
        (0, "gamma text"),     # dup of 2 from batch 1: dropped
        (9, "delta text"),
    ]
    batches = [rows[0:3], rows[3:6], rows[6:8]]
    corpus = None
    for b in batches:
        df = spark.createDataFrame(b, "doc_id long, text string")
        fresh = ingest.compact_corpus(df, corpus)
        corpus = fresh if corpus is None else corpus.unionByName(fresh)
    kept = sorted(r["doc_id"] for r in corpus.collect())
    assert kept == [2, 5, 6, 9]
    # exactly one doc per fingerprint
    n_fp = corpus.select(
        F.md5(F.encode(normalize_text("text"), "UTF-8")).alias("fp")
    ).distinct().count()
    assert n_fp == corpus.count() == 4


def test_compact_corpus_near_dup_drops_planted_neighbors(spark):
    """Round-8 verdict task 7: compact_corpus(near_dup=True) drops
    near-duplicates the exact fingerprint misses — a cycle-2 near
    copy of a corpus doc is dropped even with a smaller id (arrival
    order wins), a within-batch near copy loses to the smaller id —
    and the persisted corpus_index path never touches corpus text."""
    from timebox_spark.operators import dedup as DD
    from timebox_spark.streaming import ingest

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    b1 = spark.createDataFrame(
        [(10, base), (11, other)], "doc_id long, text string"
    )
    app1 = ingest.compact_corpus(b1, near_dup=True)
    assert {r["doc_id"] for r in app1.collect()} == {10, 11}

    idx = DD.build_corpus_index(app1)
    b2 = spark.createDataFrame(
        [
            (-5, base + " qq"),     # near-dup of corpus doc 10, smaller id
            (20, "an entirely fresh document about streaming state"),
            (21, "an entirely fresh document about streaming state zz"),
            (22, other),            # EXACT dup of corpus doc 11
        ],
        "doc_id long, text string",
    )
    app2 = ingest.compact_corpus(
        b2, corpus=app1, near_dup=True, corpus_index=idx
    )
    kept = {r["doc_id"] for r in app2.collect()}
    # -5 near-dups corpus 10 (dropped though its id is smallest);
    # 21 near-dups batch-mate 20 (larger id loses); 22 exact-dups 11
    assert kept == {20}, kept
    # without near_dup, only the exact dup is dropped
    kept_exact = {
        r["doc_id"]
        for r in ingest.compact_corpus(b2, corpus=app1).collect()
    }
    assert kept_exact == {-5, 20, 21}, kept_exact


def test_compact_corpus_cluster_keep_one_vs_chain(spark, tmp_path):
    """keep='cluster' vs the default chain-drop on a planted A~B~C
    chain (A in corpus, B bridges A and C, C matches B but not A):
    chain drops both B and C; cluster drops B (corpus match) and
    KEEPS C — it matches nothing kept. An independent doc rides
    along untouched in both modes."""
    import random

    rng = random.Random(7)
    words = [f"w{rng.randrange(10**6):06d}" for _ in range(220)]
    x, y = words[:50], words[50:100]       # A = X ∪ Y
    p = words[100:130]                     # B = A + P
    a_text = " ".join(x + y)
    b_text = " ".join(x + y + p)
    c_text = " ".join(y + p)               # C = Y ∪ P: close to B, far from A
    other = " ".join(words[130:220])

    corpus = spark.createDataFrame(
        [(1, a_text), (2, other)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, b_text), (11, c_text)], "doc_id long, text string"
    )
    kw = dict(corpus=corpus, near_dup=True, threshold=0.5,
              num_perm=32, bands=16)
    chain = {r["doc_id"] for r in ingest.compact_corpus(
        batch, keep="chain", **kw).collect()}
    cluster = {r["doc_id"] for r in ingest.compact_corpus(
        batch, keep="cluster", scratch_path=str(tmp_path / "scratch"),
        **kw).collect()}
    assert chain == set(), chain          # B corpus-dropped, C chained away
    assert cluster == {11}, cluster       # C matches nothing kept


def test_compact_corpus_drop_sink_rows_chain_and_cluster(spark, tmp_path):
    """``drop_sink`` receives one row per dropped doc. Batch: C=5, A=7,
    B=9 with A~B and B~C verified but not A~C, plus 11, an exact copy
    of A. Chain drops B (best partner A, the closer pair) and the
    exact copy (est 1.0, no partner). Cluster also drops A, whose only
    pair has A as the smaller id — its partner is B."""
    import random

    from timebox_spark.operators.dedup import unpersist_owned

    rng = random.Random(7)
    words = [f"w{rng.randrange(10**6):06d}" for _ in range(130)]
    x, y, p = words[:50], words[50:100], words[100:130]
    a_text, b_text = " ".join(x + y), " ".join(x + y + p)
    batch = spark.createDataFrame(
        [(5, " ".join(y + p)), (7, a_text), (9, b_text), (11, a_text)],
        "doc_id long, text string",
    )
    for keep, kept_want, partners in (
        ("chain", {5, 7}, {9: 7, 11: None}),
        ("cluster", {5}, {7: 9, 9: 7, 11: None}),
    ):
        got = {}

        def sink(drops):
            got.update({r["doc_id"]: r for r in drops.collect()})
            return drops.select("doc_id")

        owned: list = []
        kept = ingest.compact_corpus(
            batch, near_dup=True, threshold=0.5, num_perm=32, bands=16,
            keep=keep, scratch_path=str(tmp_path / keep), drop_sink=sink,
            exact_owned_rdds=owned,
        )
        assert {r["doc_id"] for r in kept.collect()} == kept_want, keep
        unpersist_owned(owned)
        assert {i: r["matched_id"] for i, r in got.items()} == partners
        assert got[11]["est"] == 1.0
        assert all(0.5 <= got[i]["est"] < 1.0 for i in partners if i != 11)


def test_compact_corpus_cluster_mode_escalates_to_star(
    spark, tmp_path, monkeypatch
):
    """If label propagation hits its round cap inside a cluster-mode
    compaction (a pathologically deep within-batch near-dup chain),
    the compactor escalates to star contraction instead of crash-
    looping the stream — same kept set."""
    from timebox_spark.operators import dedup as DD

    def boom(*a, **k):
        raise DD.ConvergenceError("did not converge (simulated)")

    monkeypatch.setattr(DD, "connected_components", boom)
    b = spark.createDataFrame(
        [(1, "first cycle document about rivers and meadows"),
         (2, "first cycle document about rivers and meadows qq"),
         (3, "a wholly different text regarding parquet metadata")],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in ingest.compact_corpus(
            b, near_dup=True, keep="cluster",
            scratch_path=str(tmp_path / "scratch"),
        ).collect()
    }
    assert kept == {1, 3}, kept


def test_compact_corpus_cluster_requires_scratch_path(spark):
    """keep='cluster' drops its within-batch non-representatives
    through parquet under scratch_path; without one the call is
    refused up front instead of collecting ids to the driver."""
    b = spark.createDataFrame(
        [(1, "first cycle document about rivers and meadows")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="scratch_path"):
        ingest.compact_corpus(b, near_dup=True, keep="cluster")


def test_corpus_index_save_load_survives_restart(spark, tmp_path):
    """Round-9 verdict task 2: the corpus index persists to parquet
    as (banded, HASHED sets — array<long>, signature-sized, never raw
    shingle strings) and a compaction cycle run from the LOADED index
    in a fresh session equals the in-memory-index result."""
    from timebox_spark.operators import dedup as DD
    from timebox_spark.streaming import ingest

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    b1 = spark.createDataFrame(
        [(10, base), (11, other)], "doc_id long, text string"
    )
    app1 = ingest.compact_corpus(b1, near_dup=True)
    idx = DD.build_corpus_index(app1)
    assert dict(idx[1].dtypes)["__sh"] == "array<bigint>"
    path = str(tmp_path / "corpus_index")
    DD.save_corpus_index(idx, path)

    # "driver restart": a fresh session state over the same context —
    # the loaded index must carry everything cycle 2 needs
    spark2 = spark.newSession()
    idx2 = DD.load_corpus_index(spark2, path)
    b2_rows = [
        (-5, base + " qq"),
        (20, "an entirely fresh document about streaming state"),
        (22, other),
    ]
    b2 = spark2.createDataFrame(b2_rows, "doc_id long, text string")
    app1_2 = spark2.createDataFrame(
        app1.collect(), "doc_id long, text string"
    )
    app2 = ingest.compact_corpus(
        b2, corpus=app1_2, near_dup=True, corpus_index=idx2
    )
    assert {r["doc_id"] for r in app2.collect()} == {20}

    # and the loaded-index result equals the in-memory-index result
    b2_mem = spark.createDataFrame(b2_rows, "doc_id long, text string")
    app2_mem = ingest.compact_corpus(
        b2_mem, corpus=app1, near_dup=True, corpus_index=idx
    )
    assert {r["doc_id"] for r in app2_mem.collect()} == {20}


def test_run_ingest_cycle_consolidation_bounded_and_identical(spark, tmp_path):
    """Round-11 verdict task 4: with ``consolidate_every=5`` a
    20-cycle run keeps every state tree's partition count bounded
    (≤ every + 1, vs 20 without), while the kept corpus — ids and
    text — is bit-identical to the unconsolidated run; re-running the
    consolidation (crashed-attempt replay) changes nothing."""
    import os

    def doc(i, j):
        return (
            i * 100 + j,
            f"document body c{i} d{j} " + " ".join(
                f"w{(i * 7 + j * 13 + k) % 97}" for k in range(25)
            ),
        )

    cycles = {i: [doc(i, j) for j in range(3)] for i in range(20)}
    # plant near copies: cycle i>0 repeats a cycle i-1 doc with ' qq'
    for i in range(1, 20, 3):
        base_id, base_text = cycles[i - 1][0]
        cycles[i].append((base_id + 50, base_text + " qq"))

    stores = {
        True: str(tmp_path / "store_consol"),
        False: str(tmp_path / "store_plain"),
    }
    for consolidated, store in stores.items():
        for cid in range(20):
            df = spark.createDataFrame(cycles[cid], "doc_id long, text string")
            ingest.run_ingest_cycle(
                df, store, cid,
                consolidate_every=5 if consolidated else None,
            )

    def digest(store):
        return sorted(
            map(tuple, spark.read.parquet(f"{store}/corpus")
                .select("doc_id", "text").collect())
        )

    assert digest(stores[True]) == digest(stores[False])

    def n_parts(store, tree):
        root = {"corpus": "corpus", "fps": "fps",
                "banded": "index/banded", "sets": "index/sets"}[tree]
        return len([d for d in os.listdir(f"{store}/{root}")
                    if d.startswith("cycle=")])

    for tree in ("corpus", "fps", "banded", "sets"):
        assert n_parts(stores[False], tree) == 20
        assert n_parts(stores[True], tree) <= 6, (tree, n_parts(stores[True], tree))

    # replayed consolidation is a no-op on state content
    ingest.consolidate_ingest_store(spark, stores[True], 14)
    assert digest(stores[True]) == digest(stores[False])


def test_run_ingest_cycle_cold_start_from_consolidated_store(spark, tmp_path):
    """Round-11 verdict task 7: kill the session after N consolidated
    cycles, continue cycle N from a FRESH session over the same
    store — the final corpus digest equals an uninterrupted run's."""
    def doc(i, j):
        return (
            i * 100 + j,
            f"cold start doc c{i} d{j} " + " ".join(
                f"v{(i * 11 + j * 3 + k) % 53}" for k in range(25)
            ),
        )

    cycles = {i: [doc(i, j) for j in range(2)] for i in range(8)}
    cycles[7].append((1, cycles[6][0][1] + " qq"))   # near-dup across restart
    cycles[7].append((2, cycles[0][0][1]))           # exact dup of cycle 0

    store_a = str(tmp_path / "cold_store")
    for cid in range(7):
        df = spark.createDataFrame(cycles[cid], "doc_id long, text string")
        ingest.run_ingest_cycle(df, store_a, cid, consolidate_every=3)
    # "restart": a fresh session continues cycle 7 against disk state
    spark2 = spark.newSession()
    df7 = spark2.createDataFrame(cycles[7], "doc_id long, text string")
    ingest.run_ingest_cycle(df7, store_a, 7, consolidate_every=3)

    store_b = str(tmp_path / "warm_store")
    for cid in range(8):
        df = spark.createDataFrame(cycles[cid], "doc_id long, text string")
        ingest.run_ingest_cycle(df, store_b, cid, consolidate_every=3)

    def digest(store):
        return sorted(
            map(tuple, spark.read.parquet(f"{store}/corpus")
                .select("doc_id", "text").collect())
        )

    d = digest(store_a)
    assert d == digest(store_b)
    kept_ids = {r[0] for r in d}
    assert 1 not in kept_ids and 2 not in kept_ids  # both dups dropped


def test_corpus_index_estimate_tier_signature_sized(spark, tmp_path):
    """Round-11 verdict task 3: the estimate tier's verify table is
    O(num_perm) per doc REGARDLESS of text length — exactly num_perm
    MinHash longs per row — while the exact tier's hashed sets grow
    with the text; and estimate-verify compaction drops a planted
    near copy (agreement >= threshold) without any shingle-set join."""
    import random

    from timebox_spark.operators import dedup as DD

    rng = random.Random(3)
    long_text = " ".join(f"tok{rng.randrange(10**6):06d}" for _ in range(4000))
    b1 = spark.createDataFrame(
        [(10, long_text), (11, "a short unrelated document body")],
        "doc_id long, text string",
    )
    banded_e, sigs = DD.build_corpus_index(b1, num_perm=32, verify="estimate")
    rows = sigs.select(F.size("__sig").alias("n")).collect()
    assert {r["n"] for r in rows} == {32}
    _banded_x, sets = DD.build_corpus_index(b1, num_perm=32, verify="exact")
    exact_sizes = {
        r["doc_id"]: r["n"]
        for r in sets.select("doc_id", F.size("__sh").alias("n")).collect()
    }
    # the exact representation scales with the long doc's text
    assert exact_sizes[10] > 32 * 20, exact_sizes

    # estimate-verify compaction: the ' qq' copy agrees on nearly all
    # signature components and is dropped vs the corpus index
    b2 = spark.createDataFrame(
        [(-5, long_text + " qq"), (20, "wholly new third document text")],
        "doc_id long, text string",
    )
    app2 = ingest.compact_corpus(
        b2, corpus=b1, near_dup=True, corpus_index=(banded_e, sigs),
        verify="estimate",
    )
    assert {r["doc_id"] for r in app2.collect()} == {20}

    # shape mismatch (exact index but estimate verify) raises instead
    # of silently comparing different representations
    with pytest.raises(ValueError, match="__sig"):
        ingest.compact_corpus(
            b2, corpus=b1, near_dup=True, corpus_index=(_banded_x, sets),
            verify="estimate",
        )


def test_corpus_index_versioned_atomic_publish(spark, tmp_path):
    """Advisor round 11: save_corpus_index publishes (banded, sets)
    as one versioned generation — a load never pairs tables from
    different saves. A generation missing either _SUCCESS marker
    (crash between the two writes) is invisible; a second save
    supersedes and prunes the first; legacy flat layouts still load."""
    import os

    from timebox_spark.operators import dedup as DD

    b1 = spark.createDataFrame(
        [(1, "first document about rivers and meadows and banks")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2, "second generation document on storage codecs today")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "vidx")
    v0 = DD.save_corpus_index(DD.build_corpus_index(b1), path)
    assert v0 == 0
    got0 = {r["doc_id"] for r in DD.load_corpus_index(spark, path)[0].collect()}
    assert got0 == {1}

    # simulate a crash mid-save of the NEXT generation: banded
    # written, sets incomplete (no _SUCCESS) — load must keep serving
    # generation 0, never a mixed pairing
    idx2 = DD.build_corpus_index(b2)
    idx2[1].write.mode("overwrite").parquet(f"{path}/v=1/sets")
    idx2[0].write.mode("overwrite").parquet(f"{path}/v=1/banded")
    os.remove(f"{path}/v=1/sets/_SUCCESS")
    got_crash = {
        r["doc_id"] for r in DD.load_corpus_index(spark, path)[0].collect()
    }
    assert got_crash == {1}

    # a real save supersedes (v=2 on top of the junk v=1) and prunes
    # (keep_versions=1 here; the default 2 retains the previous
    # generation so outstanding lazy loads keep working)
    v2 = DD.save_corpus_index(idx2, path, keep_versions=1)
    assert v2 >= 1
    got2 = {r["doc_id"] for r in DD.load_corpus_index(spark, path)[0].collect()}
    assert got2 == {2}
    assert not os.path.exists(f"{path}/v=0")

    # legacy flat layout (pre-versioning) still loads
    legacy = str(tmp_path / "legacy_idx")
    idx1 = DD.build_corpus_index(b1)
    idx1[0].write.parquet(f"{legacy}/banded")
    idx1[1].write.parquet(f"{legacy}/sets")
    gotl = {r["doc_id"] for r in DD.load_corpus_index(spark, legacy)[0].collect()}
    assert gotl == {1}


def test_compact_corpus_leaves_no_cached_rdds(spark, tmp_path):
    """Round-9 verdict task 4: a two-cycle near-dup compaction run
    must not accumulate cache entries — the long-running streaming
    driver would leak one per cycle until LRU eviction."""
    from timebox_spark.streaming import ingest

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    b1 = spark.createDataFrame(
        [(1, "first cycle document about rivers and meadows"),
         (2, "second document in the first cycle on storage codecs")],
        "doc_id long, text string",
    )
    app1 = ingest.compact_corpus(b1, near_dup=True)
    b2 = spark.createDataFrame(
        [(3, "first cycle document about rivers and meadows qq"),
         (4, "a wholly new third document concerning watermarks")],
        "doc_id long, text string",
    )
    app2 = ingest.compact_corpus(b2, corpus=app1, near_dup=True)
    app2.collect()
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), after - before

    # cluster mode checkpoints pairs + one RDD per CC round — all
    # must be unpersisted before compact_corpus returns (advisor
    # round 11), including on the zero-pairs fast path
    b3 = spark.createDataFrame(
        [(5, "first cycle document about rivers and meadows zz"),
         (6, "first cycle document about rivers and meadows zz yy"),
         (7, "entirely unrelated fifth text regarding parquet files")],
        "doc_id long, text string",
    )
    app3 = ingest.compact_corpus(
        b3, corpus=app1, near_dup=True, keep="cluster",
        scratch_path=str(tmp_path / "scratch"),
    )
    app3.collect()
    after3 = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after3 - before == set(), after3 - before


def test_curate_and_ingest_stream_end_to_end(spark, tmp_path):
    """The full streaming entrypoint: two micro-batches of raw docs
    flow through curation gates into the disk-backed store; an exact
    dup and a near dup of batch-1 survivors arriving in batch 2 are
    compacted away, and the final corpus equals the batch-mode
    derivation (curate → two-cycle compact chain)."""
    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    batch1 = [(10, base, "en"), (11, other, "en"),
              (12, "short", "en"),                     # gated: too few tokens
              (13, base + " aber auf deutsch bitte", "de")]  # gated: lang
    batch2 = [(20, base + " qq", "en"),                # near dup of 10
              (21, other, "en"),                       # exact dup of 11
              (22, "a wholly new third document concerning state "
                   "stores and watermark semantics in streams", "en")]
    src = str(tmp_path / "raw_docs")
    for i, b in enumerate((batch1, batch2)):
        spark.createDataFrame(
            b, "doc_id long, text string, lang string"
        ).coalesce(1).write.mode("append").parquet(src)

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(src)
    store = str(tmp_path / "store")
    q = ingest.curate_and_ingest_stream(
        stream, store, str(tmp_path / "ck_cai"),
        min_quality_q=0, min_tokens=6,
    ).start()
    q.awaitTermination()

    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/corpus").collect()
    }
    # 12 gated (tokens), 13 gated (lang-id), 21 exact dup, 20 near dup
    assert kept == {10, 11, 22}, kept


def test_curate_and_ingest_stream_with_stream_near_dup(spark, tmp_path):
    """With ``stream_near_dup=True`` the drain is ONE ingest query and
    the hit rows are the cycles' own dedup drops: one row per dropped
    doc under ``{store}/near_hits/batch=N`` — a near copy carries its
    verified partner and similarity, an exact copy est 1.0 and no
    partner, ``band`` is NULL and ``ts`` the doc's event time.
    ``drain_secs`` keeps its [detector, ingest] shape with the
    detector slot 0.0. Pairing it with ``near_dup=False`` raises at
    call time: nothing would drop, so nothing would be flagged."""
    import datetime as dt

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    third = (
        "a wholly new third document concerning state stores and "
        "watermark semantics in streams"
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    batch1 = [
        (10, base, t0),
        (11, other, t0 + dt.timedelta(seconds=1)),
        (20, base + " qq", t0 + dt.timedelta(seconds=2)),  # near copy of 10
    ]
    batch2 = [
        (30, other + " zz", t0 + dt.timedelta(seconds=3)),  # near copy of 11
        (31, third, t0 + dt.timedelta(seconds=4)),
        (32, third, t0 + dt.timedelta(seconds=5)),          # exact copy of 31
    ]
    src = str(tmp_path / "nd_raw_docs")
    for b in (batch1, batch2):
        spark.createDataFrame(
            b, "doc_id long, text string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    store = str(tmp_path / "nd_store")
    with pytest.raises(ValueError, match="near_dup"):
        ingest.curate_and_ingest_stream(
            stream, store, str(tmp_path / "ck_nd_cai"),
            near_dup=False, stream_near_dup=True,
        )
    q = ingest.curate_and_ingest_stream(
        stream, store, str(tmp_path / "ck_nd_cai"),
        min_quality_q=0, min_tokens=6, stream_near_dup=True,
    ).start()
    assert q.awaitTermination() is True

    kept = {
        r["doc_id"] for r in spark.read.parquet(f"{store}/corpus").collect()
    }
    assert kept == {10, 11, 31}, kept
    hits = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{store}/near_hits").collect()
    }
    assert set(hits) == {20, 30, 32}, hits
    assert {i: hits[i]["batch"] for i in hits} == {20: 0, 30: 1, 32: 1}
    assert hits[20]["matched_id"] == 10 and hits[30]["matched_id"] == 11
    assert all(0.35 <= hits[i]["est"] < 1.0 for i in (20, 30)), hits
    assert hits[32]["matched_id"] is None and hits[32]["est"] == 1.0
    assert all(r["band"] is None for r in hits.values())
    src_ts = {
        r["doc_id"]: r["ts"] for r in spark.read.parquet(src).collect()
    }
    assert all(hits[i]["ts"] == src_ts[i] for i in hits)
    assert q.drain_secs[0] == 0.0 and q.drain_secs[1] > 0, q.drain_secs
    assert len(q.drain_secs) == 2


def test_curate_and_ingest_stream_cap_max_validates_eagerly(spark, tmp_path):
    """Round-15 advisor: cap_max without a (stream-column) cms_col
    must raise at CALL time — not asynchronously inside foreachBatch
    on the first micro-batch after the stream has started."""
    import pytest as _pytest

    src = tmp_path / "never_read"
    src.mkdir()
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(str(src))
    with _pytest.raises(ValueError, match="cap_max needs cms_col"):
        ingest.curate_and_ingest_stream(
            stream, str(tmp_path / "s"), str(tmp_path / "ck"),
            cap_max=10,
        )
    with _pytest.raises(ValueError, match="cap_max needs cms_col"):
        ingest.curate_and_ingest_stream(
            stream, str(tmp_path / "s"), str(tmp_path / "ck"),
            cap_max=10, cms_col="not_a_stream_column",
        )
    # round-16 weighted pairings are validated eagerly too
    with _pytest.raises(ValueError, match="cms_weight_col needs"):
        ingest.curate_and_ingest_stream(
            stream, str(tmp_path / "s"), str(tmp_path / "ck"),
            cms_weight_col="nt",
        )
    with _pytest.raises(ValueError, match="token_budget_max needs"):
        ingest.curate_and_ingest_stream(
            stream, str(tmp_path / "s"), str(tmp_path / "ck"),
            cms_col="ts", token_budget_max=100,
        )
    # every cycle knob is checked when the stream is built, not on
    # the first micro-batch
    with _pytest.raises(ValueError, match="keep must be"):
        ingest.curate_and_ingest_stream(
            stream, str(tmp_path / "s"), str(tmp_path / "ck"),
            keep="bogus",
        )
    with _pytest.raises(ValueError, match="verify must be"):
        ingest.curate_and_ingest_stream(
            stream, str(tmp_path / "s"), str(tmp_path / "ck"),
            index_verify="bogus",
        )
    # a retired knob is an unknown keyword, not a silently ignored one
    with _pytest.raises(TypeError, match="bloom_k"):
        ingest.curate_and_ingest_stream(
            stream, str(tmp_path / "s"), str(tmp_path / "ck"),
            bloom_k=5,
        )
    assert not os.path.exists(tmp_path / "s")


def test_run_ingest_cycle_validates_before_any_write(spark, tmp_path):
    """A bad knob raises before the cycle touches the store: no
    generation marker on a fresh path, and no consolidation on a
    seeded store whose next cycle is a consolidation boundary."""
    fresh = tmp_path / "fresh_store"
    batch = spark.createDataFrame(
        [(1, "alpha document body one")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="keep must be"):
        ingest.run_ingest_cycle(batch, str(fresh), 0, keep="bogus")
    assert not fresh.exists()

    store = tmp_path / "seeded_store"
    knobs = dict(near_dup=False, bloom_m=None, consolidate_every=2)
    for cid, text in enumerate(["beta document two", "gamma body three"]):
        ingest.run_ingest_cycle(
            spark.createDataFrame([(10 + cid, text)], "doc_id long, text string"),
            str(store), cid, **knobs,
        )

    def listing():
        return {
            os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
            for r, _d, fs in os.walk(store)
            for f in fs
        }

    before = listing()
    with pytest.raises(ValueError, match="verify must be"):
        ingest.run_ingest_cycle(
            batch, str(store), 2, index_verify="bogus", **knobs
        )
    assert listing() == before


def test_run_ingest_cycle_timings_hook(spark, tmp_path, monkeypatch):
    """Round 16: the ``timings`` dict decomposes a cycle into its
    stages — observational only (kept rows unchanged), consolidate
    key present exactly when the fold fires. The top-level stages run
    back to back, so their seconds add up to the call's wall time
    (the stage intervals perfbench rebuilds depend on it), and the
    caller's job description survives the call."""
    import hashlib as _h
    import time as _time

    monkeypatch.setattr(ingest, "GATE_MIN_TREE_BYTES", 0)
    sc = spark.sparkContext

    def _txt(i: int) -> str:  # distinct texts: no near-dup collapse
        return " ".join(
            _h.md5(f"{i}|{j}".encode()).hexdigest()[:8] for j in range(10)
        )

    docs = spark.createDataFrame(
        [(i, _txt(i), "s0") for i in range(8)],
        "doc_id long, text string, source string",
    )
    store = str(tmp_path / "tstore")
    compact = {
        "compact_exact_gate", "compact_kept_ckpt", "compact_banded_ckpt",
        "compact_index_ckpt", "compact_band_probe", "compact_cand_prune",
    }
    stages = ["state_read_gates", "compact_write", "derived_writes",
              "index_writes", "count"]

    def cycle(batch, cycle_id, outer):
        tm: dict = {}
        sc.setLocalProperty("spark.job.description", outer)
        try:
            t0 = _time.perf_counter()
            n = ingest.run_ingest_cycle(
                batch, store, cycle_id, cms_col="source",
                consolidate_every=1, timings=tm,
            )
            wall = _time.perf_counter() - t0
            assert sc.getLocalProperty("spark.job.description") == outer
        finally:
            sc.setLocalProperty("spark.job.description", None)
        top = {k: v for k, v in tm.items() if k not in compact}
        assert all(v >= 0 for v in tm.values()), tm
        assert abs(sum(top.values()) - wall) < 0.05, (wall, tm)
        return n, list(top), {k for k in tm if k in compact}

    n0, top0, sub0 = cycle(docs, 0, None)
    assert n0 == 8
    assert top0 == stages  # cycle 0 never consolidates
    # no band-key sketch yet: the band gate's two steps do not run
    assert sub0 == compact - {"compact_band_probe", "compact_cand_prune"}
    _, top1, sub1 = cycle(
        docs.select((F.col("doc_id") + 100).alias("doc_id"),
                    "text", "source"),
        1, "outer description",
    )
    assert top1 == ["consolidate"] + stages
    assert sub1 == compact


def test_ingest_cycle_jobs_carry_stage_descriptions(
    spark, tmp_path, monkeypatch
):
    """Every Spark job of a cycle with every stage and gate on is
    described ``ingest.<key>`` for a key of that cycle's ``timings``,
    so an event log or the UI names the stage behind each job."""
    import uuid

    monkeypatch.setattr(ingest, "GATE_MIN_TREE_BYTES", 0)
    store = str(tmp_path / "store")
    batches = _digest_batches(spark)
    _run_digest_cycle(store, batches[0], 0, "exact", consolidate_every=1)
    sc = spark.sparkContext
    group = f"stages-{uuid.uuid4().hex[:8]}"
    tm: dict = {}
    sc.setJobGroup(group, group)
    try:
        _run_digest_cycle(
            store, batches[1], 1, "exact", consolidate_every=1, timings=tm
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc._jsc.sc().statusStore()
    named: dict = {}
    for j in _group_job_ids(spark, group):
        desc = jobs.job(j).description()
        named.setdefault(desc.get() if desc.isDefined() else None, []).append(j)
    assert set(named) <= {f"ingest.{k}" for k in tm}, (named, tm)
    for k in ("consolidate", "compact_write", "derived_writes", "index_writes"):
        assert f"ingest.{k}" in named, (k, named)


@pytest.mark.parametrize("verify", ["exact", "estimate"])
def test_run_ingest_cycle_index_reuse_matches_recompute(
    spark, tmp_path, verify
):
    """Round 17: run_ingest_cycle derives the committed partition's
    banded/sets trees by semi-joining the batch index materialized
    inside compact_corpus on the kept ids (and the fps bloom sketch
    by reading back the committed fps tree) instead of re-running the
    shingle+signature kernel over the committed text. The written
    partitions must be IDENTICAL to a direct recompute over the
    committed rows — both verify tiers, with near-dup AND exact-dup
    drops exercising the semi-join filter."""
    import warnings as _w

    from timebox_spark.operators import dedup as DD
    from timebox_spark.operators.sketches import bloom_build

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    store = str(tmp_path / f"ridx_{verify}")
    seed = spark.createDataFrame(
        [(1, base), (2, "unrelated codec discussion about delta layouts")],
        "doc_id long, text string",
    )
    with _w.catch_warnings():
        _w.simplefilter("ignore", UserWarning)  # estimate-tier variance
        ingest.run_ingest_cycle(
            seed, store, 0, index_verify=verify, bloom_m=1 << 16
        )
        batch = spark.createDataFrame(
            [
                (10, base + " xx"),  # near-dup of corpus 1 — dropped
                (11, "a wholly new doc about watermark state"),
                (12, "a wholly new doc about watermark state"),  # exact dup
                (13, "another fresh doc mentioning bloom sketches"),
            ],
            "doc_id long, text string",
        )
        ingest.run_ingest_cycle(
            batch, store, 1, index_verify=verify, bloom_m=1 << 16
        )
    kept_disk = spark.read.parquet(f"{store}/corpus/cycle=1")
    assert {r["doc_id"] for r in kept_disk.collect()} == {11, 13}
    nb, ns = DD.build_corpus_index(kept_disk, verify=verify)
    got_b = sorted(
        map(tuple, spark.read.parquet(f"{store}/index/banded/cycle=1").collect())
    )
    assert got_b == sorted(map(tuple, nb.collect()))
    vcol = "__sig" if verify == "estimate" else "__sh"
    got_s = sorted(
        (r["doc_id"], tuple(r[vcol]))
        for r in spark.read.parquet(f"{store}/index/sets/cycle=1").collect()
    )
    assert got_s == sorted((r["doc_id"], tuple(r[vcol])) for r in ns.collect())
    got_bloom = sorted(
        map(tuple, spark.read.parquet(f"{store}/bloom/cycle=1").collect())
    )
    exp_bloom = sorted(
        map(
            tuple,
            bloom_build(
                DD.corpus_fingerprints(kept_disk), "__fp", 1 << 16, 5
            ).collect(),
        )
    )
    assert got_bloom == exp_bloom


def test_run_ingest_cycle_disk_state_and_replay(spark, tmp_path):
    """The disk-state steady-state composition: three cycles through
    parquet state (corpus/fps/index trees) equal the in-memory
    compact_corpus chain, corpus text is never re-read (state tables
    only), and REPLAYING a cycle id overwrites its own partition —
    same final state, the foreachBatch crash-recovery contract."""
    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    third = "a wholly new third document concerning watermark state"
    cycles = {
        0: [(10, base), (11, other)],
        1: [(-5, base + " qq"), (20, third), (22, other)],
        2: [(30, third + " zz"), (31, "yet another unrelated doc body")],
    }
    store = str(tmp_path / "ingest_store")

    def run(cid):
        df = spark.createDataFrame(
            cycles[cid], "doc_id long, text string"
        )
        return ingest.run_ingest_cycle(df, store, cid)

    n0, n1, n2 = run(0), run(1), run(2)
    # cycle 0 keeps both; cycle 1 drops -5 (near-dup of corpus 10)
    # and 22 (exact dup of 11); cycle 2 drops 30 (near-dup of 20)
    assert (n0, n1, n2) == (2, 1, 1), (n0, n1, n2)
    corpus = spark.read.parquet(f"{store}/corpus")
    kept = {r["doc_id"] for r in corpus.collect()}
    assert kept == {10, 11, 20, 31}, kept

    # in-memory chain gives the same result
    from timebox_spark.operators import dedup as DD

    c = None
    for cid in cycles:
        df = spark.createDataFrame(cycles[cid], "doc_id long, text string")
        fresh = ingest.compact_corpus(df, corpus=c, near_dup=True)
        c = fresh if c is None else c.unionByName(fresh)
    assert {r["doc_id"] for r in c.collect()} == kept

    # replay cycle 2 (crashed-attempt rerun): ignores its own partial
    # output, overwrites its partition, state unchanged
    assert run(2) == 1
    corpus2 = spark.read.parquet(f"{store}/corpus")
    assert {r["doc_id"] for r in corpus2.collect()} == kept
    fps = spark.read.parquet(f"{store}/fps")
    assert fps.count() == len(kept)
    banded = spark.read.parquet(f"{store}/index/banded")
    assert banded.count() == len(kept) * 8  # bands per doc
    assert DD is not None


def test_compact_corpus_id_collision_keeps_edited_reingest(spark):
    """ADVICE round 9: a batch doc that REUSES a corpus doc_id with
    different text must be judged on its OWN shingle sets — the old
    id-keyed set union joined the corpus row under the same id and
    the corpus-vs-corpus self-pair (jaccard 1.0) dropped the batch
    doc unconditionally. bands=32/rows=1 makes the band collision
    between the old and edited text near-certain while their true
    jaccard stays far below the 0.9 verify threshold."""
    from timebox_spark.streaming import ingest

    text_a = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliett kilo lima mike november oscar papa quebec romeo"
    )
    # edited re-ingest: shares a minority of shingles with text_a
    text_b = (
        "alpha bravo charlie delta echo completely rewritten tail "
        "with new content about streaming compaction semantics"
    )
    corpus = spark.createDataFrame(
        [(7, text_a)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(7, text_b)], "doc_id long, text string"
    )
    kept = ingest.compact_corpus(
        batch, corpus=corpus, near_dup=True,
        threshold=0.9, num_perm=32, bands=32,
    )
    assert [r["doc_id"] for r in kept.collect()] == [7]


def test_hits_tree_holds_every_drain_across_three_drains(spark, tmp_path):
    """Across THREE sequential drains of the stream_near_dup
    entrypoint (one checkpoint, so batch ids run on), every drain's
    planted near copy is kept out of the corpus and the hits tree
    ``{store}/near_hits`` holds one ``batch=N`` partition per drain,
    with every hit row."""
    import datetime as dt
    import os

    bases = [
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank",
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes",
        "a wholly new third document concerning state stores and "
        "watermark semantics in structured streaming pipelines",
    ]
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    src = str(tmp_path / "md_raw")
    store = str(tmp_path / "md_store")
    ckpt = str(tmp_path / "md_ck")
    hits_total = set()
    for drain_i, base in enumerate(bases):
        rows = [
            (100 * drain_i + 1, base,
             t0 + dt.timedelta(seconds=10 * drain_i)),
            (100 * drain_i + 2, base + " qq",
             t0 + dt.timedelta(seconds=10 * drain_i + 1)),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(src)
        q = ingest.curate_and_ingest_stream(
            stream, store, ckpt,
            min_quality_q=0, min_tokens=6,
            stream_near_dup=True,
        ).start()
        assert q.awaitTermination() is True
        hits_total.add(100 * drain_i + 2)
        parts = sorted(
            d for d in os.listdir(f"{store}/near_hits")
            if d.startswith("batch=")
        )
        assert parts == [f"batch={j}" for j in range(drain_i + 1)], parts
        kept = {
            r["doc_id"]
            for r in spark.read.parquet(f"{store}/corpus").collect()
        }
        assert kept == {100 * j + 1 for j in range(drain_i + 1)}, kept
        hits = {
            (r["doc_id"], r["batch"])
            for r in spark.read.parquet(f"{store}/near_hits").collect()
        }
        assert hits == {(100 * j + 2, j) for j in range(drain_i + 1)}, hits


def _hit_rows_of(spark, path):
    return sorted(
        map(tuple, spark.read.parquet(path).select(
            "doc_id", "band", "matched_id", "est", "ts"
        ).collect()),
        key=lambda r: r[0],
    )


def test_run_ingest_cycle_replay_rewrites_identical_hit_rows(
    spark, tmp_path
):
    """A replayed micro-batch — the same cycle id run again on the same
    store, as a crashed foreachBatch attempt is — overwrites its
    ``near_hits/batch=N`` partition with the identical hit rows. The
    hit ids are exactly the docs the dedup dropped: a ``cap_max``
    drop is not a hit."""
    import datetime as dt
    import os

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [(10, base, "a", t0), (11, other, "a", t0),
         (20, base + " qq", "a", t0 + dt.timedelta(seconds=1)),  # near 10
         (21, other, "a", t0 + dt.timedelta(seconds=2)),         # exact 11
         (22, "a wholly new third document on watermark state", "a",
          t0 + dt.timedelta(seconds=3))],                        # capped
        "doc_id long, text string, source string, ts timestamp",
    )
    store = str(tmp_path / "replay_store")

    def run():
        return ingest.run_ingest_cycle(
            df.select("doc_id", "text", "source"), store, 0,
            hit_ts=df.select("doc_id", "ts"),
            bloom_m=None, band_bloom_m=None, cms_col="source", cap_max=2,
        )

    assert run() == 2
    part = f"{store}/near_hits/batch=0"
    first = _hit_rows_of(spark, part)
    assert [r[0] for r in first] == [20, 21], first
    assert first[0][2] == 10 and first[1][1:4] == (None, None, 1.0)
    files = set(os.listdir(part))
    assert run() == 2
    assert set(os.listdir(part)) != files  # rewritten, not left alone
    assert _hit_rows_of(spark, part) == first


def test_consolidate_folds_hits_tree_rows_unchanged(spark, tmp_path):
    """``consolidate_ingest_store`` folds ``near_hits/batch=*`` up to
    the cut into ONE partition, beside the cycle trees, and leaves
    every hit row unchanged; later batches stay put."""
    import datetime as dt
    import os

    store = str(tmp_path / "hits_fold_store")
    for b in range(4):
        spark.createDataFrame(
            [(100 + b, None, 7, 0.5 + b / 10, dt.datetime(2025, 1, 1, 12, b)),
             (200 + b, None, None, 1.0, dt.datetime(2025, 1, 1, 13, b))],
            "doc_id long, band int, matched_id long, est double, "
            "ts timestamp",
        ).write.parquet(f"{store}/near_hits/batch={b}")
    before = _hit_rows_of(spark, f"{store}/near_hits")
    ingest.consolidate_ingest_store(spark, store, 2)
    parts = sorted(
        d for d in os.listdir(f"{store}/near_hits") if d.startswith("batch=")
    )
    assert parts == ["batch=2", "batch=3"], parts
    assert _hit_rows_of(spark, f"{store}/near_hits") == before
    assert not os.path.exists(f"{store}/_tmp_consolidate")


def test_near_dup_hits_stream_state_ttl_evicts_after_watermark(
    spark, tmp_path
):
    """Round-12 verdict task 8: the complementary assertion to the
    flood cap — detector buckets actually EVICT once the watermark
    passes their last arrival + TTL. Phase 1 drains two files whose
    event times stay within the TTL horizon: the statestore still
    holds the first docs' buckets. Phase 2 appends a much later file
    and re-drains the SAME checkpoint: the watermark now exceeds the
    old buckets' timeout and their state is gone."""
    import datetime as dt

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    src = str(tmp_path / "ttl_src")
    ck = str(tmp_path / "ck_ttl")

    def drain(name):
        # foreachBatch sink: the memory sink cannot RESUME a
        # checkpoint, and phase 2 must continue phase 1's state
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        hits = ingest.near_dup_hits_stream(stream, min_est=0.5)
        q = (
            hits.writeStream.foreachBatch(lambda df, bid: df.count())
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def state_ids():
        rows = (
            spark.read.format("statestore")
            .load(ck)
            .select(F.explode("value.groupState.ids").alias("id"))
            .collect()
        )
        return {r["id"] for r in rows}

    spark.createDataFrame(
        [(1, base, t0), (2, base + " qq", t0 + dt.timedelta(seconds=1))],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(50, other, t0 + dt.timedelta(minutes=30))],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    drain("ttl_hits_a")
    ids1 = state_ids()
    assert 1 in ids1 and 50 in ids1, ids1  # within TTL: state retained

    # a much later arrival pushes the watermark (ts - 1h) far past the
    # old buckets' timeout (last arrival + 1h TTL) — they must evict
    spark.createDataFrame(
        [(60, "an entirely distinct body of prose about orchard "
              "irrigation schedules and the pruning of apple trees",
          t0 + dt.timedelta(hours=8))],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(70, "yet another wholly unrelated body of text regarding "
              "parquet reader buffer management internals",
          t0 + dt.timedelta(hours=9))],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    drain("ttl_hits_b")
    ids2 = state_ids()
    assert 1 not in ids2 and 2 not in ids2 and 50 not in ids2, ids2
    assert 60 in ids2 or 70 in ids2, ids2


def test_compact_corpus_scratch_path_distributed_drop(spark, tmp_path):
    """Round-12 verdict task 2: the cluster-mode drop is fully
    distributed — dropped ids go through a parquet scratch the
    returned plan reads (zero driver-side collect)."""
    import os

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    corpus = spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    )
    # 10 = corpus near-dup (dropped pre-CC), 20~21 = within-batch pair
    # (CC drops 21), 30 = independent
    batch = spark.createDataFrame(
        [(10, base + " qq"), (20, other), (21, other + " zz"),
         (30, "a wholly new third document concerning state stores "
              "and watermark semantics in streams")],
        "doc_id long, text string",
    )
    scratch = str(tmp_path / "scratch")
    distributed = {
        r["doc_id"]
        for r in ingest.compact_corpus(
            batch, corpus=corpus, near_dup=True, keep="cluster",
            scratch_path=scratch,
        ).collect()
    }
    assert distributed == {20, 30}, distributed
    dropped = {
        r["doc_id"]
        for r in spark.read.parquet(f"{scratch}/dropped").collect()
    }
    assert dropped == {21}, dropped
    assert os.path.isdir(f"{scratch}/dropped")


def test_run_ingest_cycle_cluster_keep_and_scratch_cleanup(
    spark, tmp_path
):
    """run_ingest_cycle(keep='cluster') routes the CC drop through the
    store's own _scratch tree (distributed, zero collect) and removes
    the scratch once the cycle's corpus partition commits."""
    import os

    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    store = str(tmp_path / "clstore")
    batch = spark.createDataFrame(
        [(20, other), (21, other + " zz"),
         (30, "a wholly new third document concerning state stores "
              "and watermark semantics in streams")],
        "doc_id long, text string",
    )
    n = ingest.run_ingest_cycle(batch, store, 0, keep="cluster")
    assert n == 2
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/corpus").collect()
    }
    assert kept == {20, 30}, kept
    assert not os.path.exists(f"{store}/_scratch/cycle=0")


def test_compact_corpus_estimate_num_perm_mismatch_raises(spark):
    """Advisor round 12: an estimate-tier corpus index persisted with
    a DIFFERENT num_perm than the compaction call must raise instead
    of silently banding on different keys / null-padding the
    agreement fraction."""
    import pytest

    from timebox_spark.operators import dedup as DD

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    corpus = spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    )
    idx16 = DD.build_corpus_index(
        corpus, num_perm=16, bands=8, verify="estimate"
    )
    batch = spark.createDataFrame(
        [(10, base + " qq")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="num_perm"):
        ingest.compact_corpus(
            batch, corpus=corpus, near_dup=True, verify="estimate",
            num_perm=32, bands=8, corpus_index=idx16,
        )


def test_save_corpus_index_publish_race_fails_loudly(
    spark, tmp_path, monkeypatch
):
    """Advisor round 12: save_corpus_index is writer-fenced — when a
    concurrent saver committed the same generation between this
    saver's version listing and its publish, the publish raises
    loudly (and removes its staging) instead of interleaving writes
    into the committed generation."""
    import os

    import pytest

    from timebox_spark.operators import dedup as DD

    b1 = spark.createDataFrame(
        [(1, "first document about rivers and meadows and banks")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2, "second generation document on storage codecs today")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "fence_idx")
    assert DD.save_corpus_index(DD.build_corpus_index(b1), path) == 0

    # simulate the race: the competitor's v=1 lands AFTER this saver
    # listed versions — pin the listing to the stale [0]
    real = DD._complete_index_versions
    monkeypatch.setattr(
        DD, "_complete_index_versions", lambda *a, **k: [0]
    )
    idx2 = DD.build_corpus_index(b2)
    idx2[1].write.parquet(f"{path}/v=1/sets")
    idx2[0].write.parquet(f"{path}/v=1/banded")
    with pytest.raises(IOError, match="race"):
        DD.save_corpus_index(idx2, path)
    monkeypatch.setattr(DD, "_complete_index_versions", real)
    # the loser's staging is gone; the committed generation is intact
    assert not [
        d for d in os.listdir(path) if d.startswith("_staging_")
    ]
    got = {
        r["doc_id"] for r in DD.load_corpus_index(spark, path)[0].collect()
    }
    assert got == {2}


def test_run_ingest_cycle_bloom_gate_state_and_results(spark, tmp_path):
    """Round 13: run_ingest_cycle(bloom_m=...) maintains the fifth
    state tree {store}/bloom (per-cycle mergeable word/bits rows) and
    produces a corpus bit-identical to the gate-less store across
    cycles containing corpus dups, in-batch dups and fresh docs."""
    import os

    cycles = {
        0: [(10, "alpha document body one"), (11, "beta document two")],
        1: [(20, "alpha document body one"),   # corpus dup -> dropped
            (21, "gamma fresh body three"),
            (22, "gamma fresh body three")],   # in-batch dup -> dropped
        2: [(30, "beta document two"),         # corpus dup -> dropped
            (31, "delta final body four")],
    }

    def run(store, **kw):
        for cid, rows in cycles.items():
            ingest.run_ingest_cycle(
                spark.createDataFrame(rows, "doc_id long, text string"),
                store, cid, near_dup=False, **kw,
            )
        return {
            r["doc_id"]
            for r in spark.read.parquet(f"{store}/corpus").collect()
        }

    plain = run(str(tmp_path / "plain_store"), bloom_m=None)
    bstore = str(tmp_path / "bloom_store")
    gated = run(bstore, bloom_m=1 << 14)
    assert gated == plain == {10, 11, 21, 31}
    # the bloom tree exists with one partition per cycle, rows merge
    # to the sketch of the whole corpus
    dirs = sorted(
        d for d in os.listdir(f"{bstore}/bloom") if d.startswith("cycle=")
    )
    assert dirs == ["cycle=0", "cycle=1", "cycle=2"], dirs
    from timebox_spark.operators import dedup as DD
    from timebox_spark.operators import sketches as SK

    merged = {
        (r["word"], r["bits"])
        for r in SK.bloom_merge(
            spark.read.parquet(f"{bstore}/bloom").drop("cycle")
        ).collect()
    }
    corpus_now = spark.read.parquet(f"{bstore}/corpus")
    whole = {
        (r["word"], r["bits"])
        for r in SK.bloom_build(
            DD.corpus_fingerprints(corpus_now), "__fp", 1 << 14, 5
        ).collect()
    }
    assert merged == whole


def test_run_ingest_cycle_bloom_backfills_uncovered_cycles(
    spark, tmp_path
):
    """Review round 13: enabling the Bloom gate on a store whose fps
    tree already has cycles the bloom tree lacks must NOT re-admit
    duplicates from the uncovered cycles — run_ingest_cycle backfills
    the missing sketch partitions from the narrow fps tree before
    trusting a negative probe."""
    import os

    store = str(tmp_path / "bf_store")
    # cycles 0 and 1 run WITHOUT the gate: fps exists, bloom doesn't
    ingest.run_ingest_cycle(
        spark.createDataFrame(
            [(10, "alpha document body one")], "doc_id long, text string"
        ),
        store, 0, near_dup=False, bloom_m=None,
    )
    ingest.run_ingest_cycle(
        spark.createDataFrame(
            [(11, "beta document body two")], "doc_id long, text string"
        ),
        store, 1, near_dup=False, bloom_m=None,
    )
    assert not os.path.exists(f"{store}/bloom")
    # cycle 2 enables the gate AND carries a dup of the cycle-0 doc:
    # without backfill the sketch would not cover cycle 0, the dup
    # would probe 'definitely new' and be silently re-admitted
    n = ingest.run_ingest_cycle(
        spark.createDataFrame(
            [(20, "alpha document body one"),
             (21, "gamma wholly fresh body")],
            "doc_id long, text string",
        ),
        store, 2, near_dup=False, bloom_m=1 << 14,
    )
    assert n == 1
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/corpus").collect()
    }
    assert kept == {10, 11, 21}, kept
    dirs = sorted(
        d for d in os.listdir(f"{store}/bloom") if d.startswith("cycle=")
    )
    assert dirs == ["cycle=0", "cycle=1", "cycle=2"], dirs

def test_curate_and_ingest_stream_forwards_gate_and_keep(spark, tmp_path):
    """Round-14 verdict task 2: the production entrypoint forwards
    ``bloom_m``/``keep`` to ``run_ingest_cycle`` — the
    Bloom tree is maintained per cycle at the CALLER's geometry, the
    cluster-keep drop routes through the store's _scratch (cleaned up
    post-commit), and the kept corpus matches the default-path run."""
    import os

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    batch1 = [(10, base, "en"), (11, other, "en")]
    batch2 = [(20, base + " qq", "en"),   # near dup of 10
              (21, other, "en"),          # exact dup of 11
              (22, "a wholly new third document concerning state "
                   "stores and watermark semantics in streams", "en")]
    src = str(tmp_path / "fw_raw_docs")
    for b in (batch1, batch2):
        spark.createDataFrame(
            b, "doc_id long, text string, lang string"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    store = str(tmp_path / "fw_store")
    m = 1 << 16
    q = ingest.curate_and_ingest_stream(
        stream, store, str(tmp_path / "ck_fw"),
        min_quality_q=0, min_tokens=6,
        keep="cluster", bloom_m=m,
    ).start()
    q.awaitTermination()
    kept = {
        r["doc_id"] for r in spark.read.parquet(f"{store}/corpus").collect()
    }
    assert kept == {10, 11, 22}, kept
    # the gate's state tree exists, carries the caller's geometry
    # sentinels, and covers every fps cycle
    bloom = spark.read.parquet(f"{store}/bloom")
    sent = {
        r["word"]: r["bits"]
        for r in bloom.filter("word < 0").distinct().collect()
    }
    assert sent == {-1: m, -2: 5}
    fps_cycles = {
        d for d in os.listdir(f"{store}/fps") if d.startswith("cycle=")
    }
    bloom_cycles = {
        d for d in os.listdir(f"{store}/bloom") if d.startswith("cycle=")
    }
    assert fps_cycles == bloom_cycles and fps_cycles
    # cluster-keep scratch dirs are deleted post-commit
    assert not os.path.isdir(f"{store}/_scratch") or not os.listdir(
        f"{store}/_scratch"
    )


def test_estimate_verify_warns_on_high_variance_at_call_site(spark):
    """Round-14 verdict task 6: verify='estimate' at the measured
    high-variance configuration (num_perm=32 → se ≈ 0.09 at t=0.35)
    warns AT THE CALL SITE, naming the sf0.1 over-drop; a num_perm
    that brings se under the documented bound stays quiet."""
    import warnings

    from timebox_spark.operators import dedup as DD

    corpus = spark.createDataFrame(
        [(1, "alpha document body about rivers and meadows")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "beta document body about codecs and layouts")],
        "doc_id long, text string",
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        ingest.compact_corpus(
            batch, corpus, near_dup=True, verify="estimate",
            threshold=0.35, num_perm=32, bands=8,
        )
    msgs = [str(w.message) for w in rec if "standard error" in str(w.message)]
    assert msgs and "811 of 40,105" in msgs[0], msgs
    # the bound itself: se(32, 8) over, se(256, 8) under
    assert DD.warn_estimate_tier_variance(0.35, 256, 8) < DD.ESTIMATE_TIER_SE_BOUND
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        ingest.compact_corpus(
            batch, corpus, near_dup=True, verify="estimate",
            threshold=0.35, num_perm=256, bands=8,
        )
    assert not [w for w in rec2 if "standard error" in str(w.message)]


def test_run_ingest_cycle_cms_tree_merge_equals_whole(spark, tmp_path):
    """Round 14: run_ingest_cycle(cms_col=...) maintains the sixth
    state tree {store}/cms; the per-cycle sketches merged equal the
    sketch of the WHOLE kept corpus (cms merge is exact), so
    corpus-horizon frequency queries never rescan text."""
    import os

    from timebox_spark.operators import sketches as SK

    cycles = {
        0: [(10, "alpha document body one", "web"),
            (11, "beta document two", "books")],
        1: [(20, "alpha document body one", "web"),   # corpus dup
            (21, "gamma fresh body three", "web")],
        2: [(30, "delta final body four", "books")],
    }
    store = str(tmp_path / "cms_store")
    for cid, rows in cycles.items():
        ingest.run_ingest_cycle(
            spark.createDataFrame(
                rows, "doc_id long, text string, source string"
            ),
            store, cid, near_dup=False,
            cms_col="source", cms_width=64, cms_depth=3,
        )
    dirs = sorted(
        d for d in os.listdir(f"{store}/cms") if d.startswith("cycle=")
    )
    assert dirs == ["cycle=0", "cycle=1", "cycle=2"], dirs
    merged = ingest.read_store_cms(spark, store)
    whole = SK.cms_build(
        spark.read.parquet(f"{store}/corpus").select("source"),
        "source", width=64, depth=3,
    )
    mcells = sorted(
        (r["row"], r["idx"], r["cnt"])
        for r in merged.collect() if r["row"] >= 0
    )
    wcells = sorted(
        (r["row"], r["idx"], r["cnt"])
        for r in whole.collect() if r["row"] >= 0
    )
    assert mcells == wcells
    probe = spark.createDataFrame(
        [(1, "web"), (2, "books"), (3, "absent")], "id long, v string"
    )
    est = {
        r["id"]: r["est_count"]
        for r in SK.cms_query(
            probe, "id", "v", merged, width=64, depth=3
        ).collect()
    }
    assert est[1] >= 2 and est[2] >= 2 and est[3] >= 0


def test_run_ingest_cycle_cms_backfills_uncovered_cycles(spark, tmp_path):
    """Enabling cms_col on an EXISTING store must backfill the
    sketch for prior cycles from the corpus partitions — a partial
    tree would silently under-count, voiding est >= true."""
    import os

    from timebox_spark.operators import sketches as SK

    store = str(tmp_path / "cms_backfill_store")
    ingest.run_ingest_cycle(
        spark.createDataFrame(
            [(10, "alpha one", "web"), (11, "beta two", "web")],
            "doc_id long, text string, source string",
        ),
        store, 0, near_dup=False,  # stats NOT enabled
    )
    assert not os.path.isdir(f"{store}/cms")
    ingest.run_ingest_cycle(
        spark.createDataFrame(
            [(20, "gamma three", "books")],
            "doc_id long, text string, source string",
        ),
        store, 1, near_dup=False,
        cms_col="source", cms_width=64, cms_depth=3,
    )
    dirs = sorted(
        d for d in os.listdir(f"{store}/cms") if d.startswith("cycle=")
    )
    assert dirs == ["cycle=0", "cycle=1"], dirs
    merged = ingest.read_store_cms(spark, store)
    probe = spark.createDataFrame([(1, "web")], "id long, v string")
    est = SK.cms_query(probe, "id", "v", merged, 64, 3).collect()[0][
        "est_count"
    ]
    assert est >= 2  # covers the backfilled cycle-0 rows


def test_read_store_cms_raises_when_absent(spark, tmp_path):
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        ingest.read_store_cms(spark, str(tmp_path / "no_store"))


def test_curate_and_ingest_stream_forwards_cms(spark, tmp_path):
    """The entrypoint carries cms_col through curation (carry_cols)
    and the sink keeps it through run_ingest_cycle — the cms tree
    reflects kept docs only (gated docs never counted)."""
    import pyspark.sql.types as T

    from timebox_spark.operators import sketches as SK

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    other = (
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes"
    )
    rows = [(10, base, "web"), (11, other, "books"),
            (12, "short", "web")]  # gated: too few tokens
    src = str(tmp_path / "raw_docs_cms")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).coalesce(1).write.mode("append").parquet(src)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(src)
    store = str(tmp_path / "store_cms")
    q = ingest.curate_and_ingest_stream(
        stream, store, str(tmp_path / "ck_cms"),
        min_quality_q=0, min_tokens=6, near_dup=False,
        cms_col="source", cms_width=64, cms_depth=3,
    ).start()
    q.awaitTermination()
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/corpus").collect()
    }
    assert kept == {10, 11}, kept
    merged = ingest.read_store_cms(spark, store)
    probe = spark.createDataFrame(
        [(1, "web"), (2, "books")], "id long, v string"
    )
    est = {
        r["id"]: r["est_count"]
        for r in SK.cms_query(probe, "id", "v", merged, 64, 3).collect()
    }
    # doc 12 was gated: 'web' counts exactly once among kept docs
    # (est can only over-count via hash collisions, absent at this
    # fill factor with 2 values in a 64x3 sketch)
    assert est[1] == 1 and est[2] == 1, est


def test_fps_tree_binary_sorted_and_string_tree_refused(spark, tmp_path):
    """Round-15 verdict task 1, storage half: stores write the fps
    tree as SORTED 16-byte binary md5s of the kept texts. A hex-string
    tree (what a pre-binary build wrote) is refused by the next cycle
    with a rebuild hint BEFORE any backfill or write — the store's
    file listing is unchanged."""
    from timebox_spark.operators import dedup as DD

    def batch(cid, texts):
        return spark.createDataFrame(
            [(cid * 100 + j, t) for j, t in enumerate(texts)],
            "doc_id long, text string",
        )

    def listing(root):
        return sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
        )

    # --- binary from cycle 0, sorted per partition
    new_store = str(tmp_path / "r15_new_store")
    ingest.run_ingest_cycle(
        batch(0, ["beta body", "alpha body", "gamma body"]), new_store, 0,
        near_dup=False,
    )
    fps = spark.read.parquet(f"{new_store}/fps")
    assert dict(fps.dtypes)["__fp"] == "binary"
    stored = [bytes(r["__fp"]) for r in fps.drop("cycle").collect()]
    assert stored == sorted(stored)
    corpus = spark.read.parquet(f"{new_store}/corpus")
    want = {
        r["h"]
        for r in corpus.select(
            F.md5(F.encode(DD.normalize_text("text"), "UTF-8")).alias("h")
        ).collect()
    }
    assert {b.hex() for b in stored} == want

    # --- hex-string store: plant cycle 0 by hand, then run cycle 1
    old_store = str(tmp_path / "r15_old_store")
    b0 = batch(0, ["alpha body", "beta body"])
    b0.write.mode("overwrite").parquet(f"{old_store}/corpus/cycle=0")
    DD.corpus_fingerprints(b0).write.mode("overwrite").parquet(
        f"{old_store}/fps/cycle=0"
    )
    before = listing(old_store)
    with pytest.raises(ValueError, match="rebuild the store"):
        ingest.run_ingest_cycle(
            batch(1, ["alpha body", "gamma body"]), old_store, 1,
            near_dup=False, bloom_m=1 << 14, cms_col="text",
        )
    assert listing(old_store) == before


def test_pagerank_validation_raise_leaks_no_blocks(spark):
    """Round-15 advisor: pagerank localCheckpoints edges/nodes/dangling
    eagerly BEFORE the weight/overflow validations — a raise with
    owned_rdds=None must unpersist the internally tracked blocks, not
    leak them for the session lifetime."""
    import pytest

    from timebox_spark.operators import graphs as G

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [("a", "b", 0), ("b", "a", 1)], "src string, dst string, w int"
    )
    before = sc._jsc.sc().getPersistentRDDs().size()
    with pytest.raises(ValueError, match="weights must be"):
        G.pagerank(edges, weight="w", iterations=2)
    after = sc._jsc.sc().getPersistentRDDs().size()
    assert after == before, (before, after)


def test_bloom_gate_auto_disables_below_tree_size_bound(
    spark, tmp_path, monkeypatch
):
    """Round-15 What's-wrong #3: with bloom_m set, the PROBE is
    skipped while the fps tree is broadcast-small (the plain
    anti-join broadcasts there anyway) — but the sketch tree keeps
    being written/backfilled, so coverage holds and the probe resumes
    the first cycle the tree outgrows the bound. Results identical in
    both regimes."""
    import os

    seen = []
    real = ingest.compact_corpus

    def spy(new_batch, **kw):
        seen.append(kw.get("corpus_bloom") is not None)
        return real(new_batch, **kw)

    monkeypatch.setattr(ingest, "compact_corpus", spy)

    def batch(cid, texts):
        return spark.createDataFrame(
            [(cid * 100 + j, t) for j, t in enumerate(texts)],
            "doc_id long, text string",
        )

    m = 1 << 14
    store = str(tmp_path / "r15_gate_auto")
    ingest.run_ingest_cycle(
        batch(0, ["alpha body", "beta body"]), store, 0,
        near_dup=False, bloom_m=m,
    )
    ingest.run_ingest_cycle(
        batch(1, ["alpha body", "gamma body"]), store, 1,
        near_dup=False, bloom_m=m,
    )
    # tiny store: the probe was skipped on every cycle…
    assert seen == [False, False], seen
    # …but the sketch tree is fully maintained (coverage invariant)
    assert {
        d for d in os.listdir(f"{store}/bloom") if d.startswith("cycle=")
    } == {"cycle=0", "cycle=1"}
    kept1 = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/corpus/cycle=1").collect()
    }
    assert kept1 == {101}, kept1
    # force the bound to 0: the probe activates, results unchanged
    monkeypatch.setattr(ingest, "GATE_MIN_TREE_BYTES", 0)
    ingest.run_ingest_cycle(
        batch(2, ["alpha body", "gamma body", "delta body"]), store, 2,
        near_dup=False, bloom_m=m,
    )
    assert seen == [False, False, True], seen
    kept2 = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/corpus/cycle=2").collect()
    }
    assert kept2 == {202}, kept2


def test_run_ingest_cycle_cap_max_enforces_stream_budget(spark, tmp_path):
    """Round-15: run_ingest_cycle(cms_col=, cap_max=) keeps at most
    cap_max rows per group ACROSS cycles — the historical cms tree
    supplies the prior, so cycle 3's hot-domain rows are refused even
    though each cycle individually is under the cap. Replaying a
    cycle is deterministic (cycle-filtered tree read)."""

    def batch(cid, n_hot):
        rows = [
            (cid * 100 + j, f"hot doc body {cid} {j}", "hot.com")
            for j in range(n_hot)
        ]
        rows.append(
            (cid * 100 + 99, f"rare doc body {cid}", f"rare{cid}.org")
        )
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )

    store = str(tmp_path / "r15_capmax")
    CAP = 5
    for cid, n_hot in enumerate((3, 3, 3)):
        ingest.run_ingest_cycle(
            batch(cid, n_hot), store, cid, near_dup=False,
            cms_col="source", cms_width=256, cms_depth=4, cap_max=CAP,
        )
    corpus = spark.read.parquet(f"{store}/corpus")
    hot = [r["doc_id"] for r in corpus.filter("source = 'hot.com'").collect()]
    # cycle 0: 3 kept; cycle 1: est 3 -> 2 kept; cycle 2: est 5 -> 0
    assert sorted(hot) == [0, 1, 2, 100, 101], sorted(hot)
    assert corpus.filter("source != 'hot.com'").count() == 3
    # replay of cycle 2 changes nothing (deterministic prior)
    ingest.run_ingest_cycle(
        batch(2, 3), store, 2, near_dup=False,
        cms_col="source", cms_width=256, cms_depth=4, cap_max=CAP,
    )
    corpus2 = spark.read.parquet(f"{store}/corpus")
    assert sorted(
        r["doc_id"] for r in corpus2.filter("source = 'hot.com'").collect()
    ) == [0, 1, 2, 100, 101]
    # loud validation: cap without the column
    import pytest

    with pytest.raises(ValueError, match="cap_max"):
        ingest.run_ingest_cycle(
            batch(3, 1), store, 3, near_dup=False, cap_max=CAP,
        )


def test_run_ingest_cycle_token_budget_enforces_stream_budget(
    spark, tmp_path
):
    """Round-16: run_ingest_cycle(cms_weight_col=, token_budget_max=)
    keeps at most budget WEIGHT per group ACROSS cycles — the
    weighted cms tree supplies the prior, so cycle 1's hot rows are
    refused even though each cycle individually is under budget; a
    later count-mode cycle on the weighted store raises on the mode
    sentinel instead of poisoning the tree's denomination."""
    import pytest

    def batch(cid, n_hot):
        rows = [
            (cid * 100 + j, f"hot doc body {cid} {j}", "hot.com", 30)
            for j in range(n_hot)
        ]
        rows.append(
            (cid * 100 + 99, f"rare doc body {cid}", f"rare{cid}.org", 30)
        )
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string, nt long"
        )

    store = str(tmp_path / "r16_tokbudget")
    BUDGET = 100
    for cid in range(3):
        ingest.run_ingest_cycle(
            batch(cid, 4), store, cid, near_dup=False,
            cms_col="source", cms_width=256, cms_depth=4,
            cms_weight_col="nt", token_budget_max=BUDGET,
        )
    corpus = spark.read.parquet(f"{store}/corpus")
    hot = [
        r["doc_id"] for r in corpus.filter("source = 'hot.com'").collect()
    ]
    # cycle 0: prior 0 -> cum<=100 admits 3 of 4 rows (90 weight);
    # cycle 1: prior 90 -> allowance 10 < 30 -> none; cycle 2: none
    assert sorted(hot) == [0, 1, 2], sorted(hot)
    assert corpus.filter("source != 'hot.com'").count() == 3
    # the stream total can never exceed the budget
    assert (
        corpus.filter("source = 'hot.com'")
        .agg(F.sum("nt"))
        .collect()[0][0]
        <= BUDGET
    )
    # replay of cycle 2 changes nothing (deterministic prior)
    ingest.run_ingest_cycle(
        batch(2, 4), store, 2, near_dup=False,
        cms_col="source", cms_width=256, cms_depth=4,
        cms_weight_col="nt", token_budget_max=BUDGET,
    )
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/corpus")
        .filter("source = 'hot.com'")
        .collect()
    ) == [0, 1, 2]
    # a count-mode cycle on the WEIGHTED store raises on the sentinel
    with pytest.raises(ValueError, match="denomination"):
        ingest.run_ingest_cycle(
            batch(3, 1), store, 3, near_dup=False,
            cms_col="source", cms_width=256, cms_depth=4,
        )
    # pairing validations are loud
    with pytest.raises(ValueError, match="token_budget_max"):
        ingest.run_ingest_cycle(
            batch(3, 1), store, 3, near_dup=False,
            cms_col="source", token_budget_max=BUDGET,
        )
    with pytest.raises(ValueError, match="mutually exclusive"):
        ingest.run_ingest_cycle(
            batch(3, 1), store, 3, near_dup=False,
            cms_col="source", cms_weight_col="nt",
            token_budget_max=BUDGET, cap_max=5,
        )


def _band_gate_fixture(spark):
    from timebox_spark.operators.dedup import build_corpus_index
    from timebox_spark.operators.sketches import bloom_build

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa quebec")
    corpus = spark.createDataFrame(
        [(i, f"{base} corpus tail {i} {'x ' * (i % 5)}") for i in range(30)],
        "doc_id long, text string",
    )
    banded, sets = build_corpus_index(corpus)
    m, k = 1 << 16, 5
    bb = bloom_build(banded.select("key"), "key", m, k)
    batch = spark.createDataFrame(
        [
            (100, f"{base} corpus tail 3 "),        # near-dup of corpus 3
            (101, "utterly unrelated words nothing shares a shingle "
                  "with the corpus documents at all here today"),
            (102, f"{base} corpus tail 7 x "),      # near-dup of corpus 7
            (103, "utterly unrelated words nothing shares a shingle "
                  "with the corpus documents at all here tonight"),  # near 101
        ],
        "doc_id long, text string",
    )
    return corpus, banded, sets, bb, m, k, batch


def test_compact_corpus_band_gate_identical_results(spark, tmp_path):
    """Round-15: the band-key Bloom gate is transparent — kept sets
    identical with and without it, for both keep modes, including
    within-batch near-dups and the empty-maybe case."""
    c, banded, sets, bb, m, k, batch = _band_gate_fixture(spark)

    for keep in ("chain", "cluster"):
        plain = {
            r["doc_id"]
            for r in ingest.compact_corpus(
                batch, corpus_index=(banded, sets), near_dup=True,
                threshold=0.5, keep=keep,
                scratch_path=str(tmp_path / f"plain_{keep}"),
            ).collect()
        }
        owned: list = []
        gated = {
            r["doc_id"]
            for r in ingest.compact_corpus(
                batch, corpus_index=(banded, sets), near_dup=True,
                threshold=0.5, keep=keep,
                scratch_path=str(tmp_path / f"gated_{keep}"),
                corpus_band_bloom=bb, band_bloom_m=m,
                exact_owned_rdds=owned,
            ).collect()
        }
        from timebox_spark.operators.dedup import unpersist_owned

        unpersist_owned(owned)
        assert gated == plain, (keep, gated, plain)
        assert 101 in gated and 100 not in gated and 102 not in gated


def test_compact_corpus_band_gate_prunes_index_scans(spark, tmp_path):
    """Round-15: with the gate on, the banded scan carries a pushed
    In/EqualTo predicate on `key` and surfaces only matching row
    groups; the verify-tree scan is pruned to candidate ids."""
    from pyspark.sql import functions as F

    from tests.test_sketches import _fps_scan_leaf

    from timebox_spark.operators.dedup import build_corpus_index
    from timebox_spark.operators.sketches import bloom_build

    m, k = 1 << 16, 5
    # a BIGGER index than the identity fixture (pruning is observable
    # only when row groups outnumber the maybe keys) of PAIRWISE
    # DISTINCT docs — mutually-similar corpus docs would explode the
    # candidate set past the isin cap into the semi-join fallback,
    # which pushes no scan predicate
    def doc_text(i):
        return " ".join(f"c{i}w{j}q{(i * 31 + j) % 997}" for j in range(18))

    corpus = spark.createDataFrame(
        [(i, doc_text(i)) for i in range(2000)],
        "doc_id long, text string",
    )
    banded, sets = build_corpus_index(corpus)
    bb = bloom_build(banded.select("key"), "key", m, k)
    batch = spark.createDataFrame(
        [(100_000, doc_text(3) + " zz"),   # near-dup of corpus doc 3
         (100_001, " ".join(f"fresh{j}" for j in range(18)))],
        "doc_id long, text string",
    )
    bdir = str(tmp_path / "r15_banded_tree")
    sdir = str(tmp_path / "r15_sets_tree")
    (banded.repartitionByRange(2, "key").sortWithinPartitions("key")
     .write.mode("overwrite").option("parquet.block.size", 16 * 1024)
     .parquet(bdir))
    (sets.repartitionByRange(2, "doc_id").sortWithinPartitions("doc_id")
     .write.mode("overwrite").option("parquet.block.size", 16 * 1024)
     .parquet(sdir))
    banded_t = spark.read.parquet(bdir)
    sets_t = spark.read.parquet(sdir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = ingest.compact_corpus(
            batch, corpus_index=(banded_t, sets_t), near_dup=True,
            threshold=0.5, corpus_band_bloom=bb, band_bloom_m=m,
        )
        got = {r["doc_id"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got == {100_001}, got
    bleaf = _fps_scan_leaf(out, "r15_banded_tree")
    assert bleaf is not None
    pushed = str(bleaf.metadata().apply("PushedFilters"))
    assert "key" in pushed and ("In(" in pushed or "EqualTo(" in pushed), pushed
    n_banded = banded.count()
    scanned_b = bleaf.metrics().apply("numOutputRows").value()
    assert scanned_b < n_banded, (scanned_b, n_banded)
    sleaf = _fps_scan_leaf(out, "r15_sets_tree")
    assert sleaf is not None
    spushed = str(sleaf.metadata().apply("PushedFilters"))
    assert "doc_id" in spushed and (
        "In(" in spushed or "EqualTo(" in spushed
    ), spushed
    scanned_s = sleaf.metrics().apply("numOutputRows").value()
    assert scanned_s < sets.count(), (scanned_s, sets.count())


def test_run_ingest_cycle_band_bloom_tree_and_coverage(spark, tmp_path, monkeypatch):
    """Round-15: band_bloom_m maintains the bloom_band state tree
    (per-cycle + backfilled, consolidated with the others); with the
    auto-disable bound forced to 0 the probe is ACTIVE and kept sets
    equal the ungated store's, cycle for cycle."""
    import os

    monkeypatch.setattr(ingest, "GATE_MIN_TREE_BYTES", 0)

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa quebec")

    def fresh(cid):
        # md5-derived words: no shared 5-char shingles across cycles
        # (human-ish word patterns like "cyc1word3" share most of
        # their character shingles and false-near-dup at 0.5)
        import hashlib as _h

        return " ".join(
            _h.md5(f"{cid}:{j}".encode()).hexdigest()[:10]
            for j in range(18)
        )

    def batch(cid):
        rows = [(cid * 100 + 1, fresh(cid))]
        if cid > 0:
            # near copy of the previous cycle's fresh doc
            rows.append((cid * 100 + 2, fresh(cid - 1) + " qq"))
        return spark.createDataFrame(rows, "doc_id long, text string")

    stores = {
        True: str(tmp_path / "r15_bb_gated"),
        False: str(tmp_path / "r15_bb_plain"),
    }
    for gated, store in stores.items():
        for cid in range(3):
            ingest.run_ingest_cycle(
                batch(cid), store, cid, threshold=0.5,
                band_bloom_m=(1 << 16) if gated else None,
            )

    def kept(store):
        return sorted(
            r["doc_id"]
            for r in spark.read.parquet(f"{store}/corpus").collect()
        )

    assert kept(stores[True]) == kept(stores[False])
    # near copies were dropped (the gate did not admit them)
    assert kept(stores[True]) == [1, 101, 201], kept(stores[True])
    banded_cycles = {
        d for d in os.listdir(f"{stores[True]}/index/banded")
        if d.startswith("cycle=")
    }
    bb_cycles = {
        d for d in os.listdir(f"{stores[True]}/bloom_band")
        if d.startswith("cycle=")
    }
    assert bb_cycles == banded_cycles and bb_cycles
    assert not os.path.isdir(f"{stores[False]}/bloom_band")


def test_ingest_bloom_gate_validates_without_eager_merge(
    spark, tmp_path, monkeypatch
):
    """Round 17: the gate passes the RAW sketch tree to bloom_probe
    (no per-cycle eager bloom_merge job) — sentinel validation must
    still fail LOUDLY on (a) a mid-stream bloom_m change (call vs
    tree mismatch) and (b) a tree already mixing geometries (the case
    bloom_merge's check used to catch), both before any corpus state
    is committed for the failing cycle. Round 18 moved the gates to
    ``bloom_probe``'s inline validation — the SAME guards now fire as
    per-row asserts inside the first gate action (a Spark execution
    error carrying the sentinel message) instead of an eager
    full-tree scan per probe per cycle."""
    from pyspark.errors import PySparkException

    monkeypatch.setattr(ingest, "GATE_MIN_TREE_BYTES", 0)
    from timebox_spark.operators import dedup as DD
    from timebox_spark.operators import sketches as SK

    store = str(tmp_path / "raw_gate_store")
    m = 1 << 14
    for cid, rows in enumerate(
        [[(10, "alpha body one"), (11, "beta body two")],
         [(20, "gamma body three")]]
    ):
        ingest.run_ingest_cycle(
            spark.createDataFrame(rows, "doc_id long, text string"),
            store, cid, near_dup=False, bloom_m=m,
        )
    batch3 = spark.createDataFrame(
        [(30, "delta body four")], "doc_id long, text string"
    )
    # (a) mid-stream geometry change: tree sentinels carry m, the
    # call says 2m -> per-row sentinel mismatch raise from the gate
    with pytest.raises(PySparkException, match="m_bits"):
        ingest.run_ingest_cycle(
            batch3, store, 2, near_dup=False, bloom_m=m * 2,
        )
    corpus = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/corpus").collect()
    }
    assert corpus == {10, 11, 20}  # nothing committed by the raise
    # (b) a tree already mixing geometries: plant a conflicting
    # sketch partition (covers a hand-written/crash-mixed tree), run
    # a matching-parameter cycle -> the conflicting row disagrees with
    # the call's geometry and the per-row assert raises (pre-merge,
    # so bit_or can never alias the conflict past the check)
    fps2 = spark.read.parquet(f"{store}/fps").filter("cycle = 1").drop(
        "cycle"
    )
    SK.bloom_build(
        fps2.select(DD._fp_hex("__fp").alias("__fp")), "__fp", m * 4, 5
    ).write.parquet(f"{store}/bloom/cycle=5")
    with pytest.raises(PySparkException, match="m_bits"):
        ingest.run_ingest_cycle(
            batch3, store, 6, near_dup=False, bloom_m=m,
        )
    corpus = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/corpus").collect()
    }
    assert corpus == {10, 11, 20}  # still nothing committed


def test_curate_and_ingest_stream_sink_releases_checkpoints(
    spark, tmp_path
):
    """Round 18: the ingest sink eagerly localCheckpoints each curated
    micro-batch (one materialization instead of re-running curation
    per pre-checkpoint action) — the blocks must be RELEASED the same
    batch, so a full drain leaves zero persistent RDDs behind (the
    long-running-driver leak rule of compact_corpus, applied to the
    sink's own checkpoint)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    batches = [
        [(10, base, "en"), (11, "completely different subject matter "
                                "about integer codecs and columnar "
                                "storage layouts with delta schemes",
                            "en")],
        [(20, base, "en"), (21, "another wholly distinct document "
                                "about state stores and watermarks "
                                "in structured streaming land", "en")],
    ]
    src = str(tmp_path / "raw_docs_ckpt_rel")
    for b in batches:
        spark.createDataFrame(
            b, "doc_id long, text string, lang string"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string"
    ).parquet(src)
    store = str(tmp_path / "store_ckpt_rel")
    ingest.curate_and_ingest_stream(
        stream, store, str(tmp_path / "ck_rel"),
        min_quality_q=0, min_tokens=6,
    ).start().awaitTermination()
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/corpus").collect()
    }
    assert kept == {10, 11, 21}, kept
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), after - before


def test_curate_and_ingest_stream_empty_batch_still_consolidates(
    spark, tmp_path, monkeypatch
):
    """A micro-batch that curation empties skips its ingest cycle, but
    a consolidation boundary landing on it must still fold the store:
    with consolidate_every=2, micro-batch 2 (every doc too short to
    pass curation) folds cycles 0-1 into one partition per tree.

    Also the benchmark's contract with the sink: the sink calls the
    module-global ``run_ingest_cycle`` (so a wrapper installed on the
    module sees every cycle) once per non-empty micro-batch, with
    ``(batch, store_path, cycle_id)`` positional and no ``timings``,
    and ``perfbench.stream_drain.DRAIN_KW`` builds a drain."""
    from perfbench.stream_drain import DRAIN_KW, STREAM_SCHEMA

    calls = []
    inner = ingest.run_ingest_cycle

    def recording_cycle(*args, **kw):
        calls.append(args[1:])
        assert len(args) == 3 and "timings" not in kw, (args, kw)
        return inner(*args, **kw)

    monkeypatch.setattr(ingest, "run_ingest_cycle", recording_cycle)
    texts = [
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank",
        "completely different subject matter about integer codecs "
        "and columnar storage layouts with delta encoding schemes",
        "a wholly new third document concerning state stores and "
        "watermark semantics in structured streaming",
        "yet another fresh document on join strategies and broadcast "
        "thresholds for the query planner",
    ]
    batches = [
        [(10, texts[0]), (11, texts[1])],
        [(20, texts[2]), (21, texts[3])],
        [(30, "too short"), (31, "also short")],
    ]
    src = str(tmp_path / "raw_docs_empty_fold")
    for b in batches:
        spark.createDataFrame(b, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    store = str(tmp_path / "store_empty_fold")
    ingest.curate_and_ingest_stream(
        stream, store, str(tmp_path / "ck_empty_fold"),
        min_quality_q=0, min_tokens=6, near_dup=False,
        consolidate_every=2,
    ).start().awaitTermination()

    def parts(tree):
        return sorted(
            n for n in os.listdir(f"{store}/{tree}") if n.startswith("cycle=")
        )

    assert parts("corpus") == parts("fps") == parts("bloom") == ["cycle=1"]
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{store}/corpus").collect()
    }
    assert kept == {10, 11, 20, 21}, kept
    assert calls == [(store, 0), (store, 1)], calls

    drain_src = tmp_path / "drain_src"
    drain_src.mkdir()
    ingest.curate_and_ingest_stream(
        spark.readStream.schema(STREAM_SCHEMA).parquet(str(drain_src)),
        str(tmp_path / "drain_store"), str(tmp_path / "drain_ck"),
        **DRAIN_KW,
    )


def test_tree_schema_cache_invalidated_on_recreated_store(
    spark, tmp_path
):
    """Round 18: read_prior's per-cycle schema inference is cached per
    tree path; a store RECREATED at the same path (cycle-0 seed) must
    drop the cached shapes, and a consolidation (every tree rewritten
    in the same shapes) carries them over — results stay identical to
    a cache-cold run."""
    store = str(tmp_path / "store_schema_cache")

    def run(cycles):
        import shutil

        shutil.rmtree(store, ignore_errors=True)
        for cid, rows in enumerate(cycles):
            df = spark.createDataFrame(rows, "doc_id long, text string")
            ingest.run_ingest_cycle(
                df, store, cid, consolidate_every=2,
                bloom_m=1 << 14, band_bloom_m=1 << 14, cms_col="text",
            )
        return {
            r["doc_id"]
            for r in spark.read.parquet(f"{store}/corpus").collect()
        }

    cycles = [
        [(1, "first document about rivers and meadows far away"),
         (2, "second document concerning columnar storage codecs")],
        [(3, "first document about rivers and meadows far away"),  # dup of 1
         (4, "a wholly new third document about watermark state")],
        # cycle 2 consolidates cycles 0-1 first (a new generation),
        # then compacts against the folded trees
        [(5, "a wholly new third document about watermark state"),  # dup of 4
         (6, "yet another fresh document on join strategies here")],
    ]
    first = run(cycles)
    # the cache is now warm for this exact store path — recreate the
    # store from scratch at the SAME path; cycle 0 must invalidate
    second = run(cycles)
    assert first == second == {1, 2, 4, 6}, (first, second)
    # and the cache holds entries for the live store's trees again
    paths = ingest._store_tree_paths(store)
    assert paths["fps"] in ingest._TREE_SCHEMA_CACHE


def test_tree_schema_cache_keyed_on_store_generation(spark, tmp_path):
    """A store replaced at the same path by a COPY of another store
    (no cycle-0 seed, no consolidation at that path) must not be read
    with the cached tree shapes of the store it replaced: cycles 0-1
    of an exact-verify store at P cache an ``__sh`` verify tree, P is
    swapped for an estimate-verify store (``__sig``), and cycle 2 with
    index_verify='estimate' must compact against the copy's trees."""
    import shutil
    import warnings

    p = str(tmp_path / "store_gen")
    q = str(tmp_path / "store_gen_estimate")
    cycles = [
        [(1, "first document about rivers and meadows far away"),
         (2, "second document concerning columnar storage codecs")],
        [(3, "a wholly new third document about watermark state"),
         (4, "first document about rivers and meadows far away")],  # dup of 1
    ]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)  # estimate variance
        for store, verify in ((p, "exact"), (q, "estimate")):
            for cid, rows in enumerate(cycles):
                ingest.run_ingest_cycle(
                    spark.createDataFrame(rows, "doc_id long, text string"),
                    store, cid, index_verify=verify,
                )
        # cycle 1 at P cached the exact store's tree shapes
        shutil.rmtree(p)
        shutil.copytree(q, p)
        ingest.run_ingest_cycle(
            spark.createDataFrame(
                [(5, "second document concerning columnar storage codecs"),
                 (6, "yet another fresh document on join strategies")],
                "doc_id long, text string",
            ),
            p, 2, index_verify="estimate",
        )
    got = {r["doc_id"] for r in spark.read.parquet(f"{p}/corpus").collect()}
    assert got == {1, 2, 3, 6}, got


def test_near_dup_hits_stream_fanout_negative_raises(spark):
    """Advice round 17: a negative fanout must fail with a clear
    message at CALL time, not as an opaque repartition error inside
    the first micro-batch."""
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="fanout must be >= 0"):
        ingest.near_dup_hits_stream(stream, fanout=-1)


def _filters_with_lambdas(jplan) -> list[str]:
    """Filter nodes of a JVM plan whose condition holds a lambda
    function (one line per node; streaming nodes carry a ``~``)."""
    import re

    nodes = (
        re.sub(r"^[\s:|+-]*~?", "", ln) for ln in jplan.toString().splitlines()
    )
    return [
        n for n in nodes
        if n.startswith("Filter ")
        and ("lambdafunction" in n or "transform(" in n)
    ]


def test_shingle_work_never_lands_in_a_pushed_filter(spark, tmp_path):
    """A filter on a shingle column is pushed through the projections
    and the fanout exchange into the source stage, with the text
    normalization inlined into the per-position lambda: O(len²) regex
    work on the source's partitions. Neither the stream detector nor
    the portable index may leave a lambda in any Filter of its
    optimized plan; NULL text is dropped on the text column instead."""
    from timebox_spark.operators import dedup as DD

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(str(tmp_path))
    hits = ingest.near_dup_hits_stream(stream, fanout=4)
    # an unstarted streaming frame refuses optimizedPlan(): run the
    # session's optimizer over its analyzed plan directly
    stream_plan = spark._jsparkSession.sessionState().optimizer().execute(
        hits._jdf.queryExecution().analyzed()
    )
    assert "RepartitionByExpression" in stream_plan.toString()
    assert not _filters_with_lambdas(stream_plan)

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, None)],
        "doc_id long, text string",
    ).coalesce(1)
    banded, sets = DD.portable_minhash_index(docs)
    for df in (banded, sets):
        assert not _filters_with_lambdas(df._jdf.queryExecution().optimizedPlan())
    assert {r["doc_id"] for r in banded.collect()} == {1}
    assert [r["doc_id"] for r in sets.collect()] == [1]


def test_get_spark_shuffle_width_defaults_to_core_count(spark, monkeypatch):
    """Without ``shuffle_partitions`` or ``TIMEBOX_SHUFFLE_PARTITIONS``
    the session's shuffle width is the local core count (streaming
    state never coalesces, so a wider default only adds waves of empty
    state tasks); the env var and the argument override it, and an
    explicit ``extra_conf`` entry wins over both."""
    from timebox_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    try:
        monkeypatch.delenv("TIMEBOX_SHUFFLE_PARTITIONS", raising=False)
        s = get_spark(app_name="timebox-tests")
        assert int(s.conf.get(key)) == s.sparkContext.defaultParallelism
        monkeypatch.setenv("TIMEBOX_SHUFFLE_PARTITIONS", "3")
        assert get_spark(app_name="timebox-tests").conf.get(key) == "3"
        assert get_spark(
            app_name="timebox-tests", shuffle_partitions=5
        ).conf.get(key) == "5"
        assert get_spark(
            app_name="timebox-tests", extra_conf={key: "6"}
        ).conf.get(key) == "6"
    finally:
        spark.conf.set(key, width)


def test_near_dup_hits_stream_checkpoint_keeps_recorded_width(
    spark, tmp_path
):
    """A detector checkpoint created at one shuffle width and restarted
    under another keeps the width it recorded in its offset log (the
    state store's partitioning is fixed at creation), and the resumed
    drain returns the same hit rows as one uninterrupted drain of both
    files."""
    import datetime as dt
    import json

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the long meadow toward the river bank"
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    files = [
        [(1, base, t0), (2, base + " qq", t0 + dt.timedelta(seconds=1))],
        [(3, base + " zz", t0 + dt.timedelta(seconds=2)),
         (4, "an unrelated note about orchard irrigation schedules",
          t0 + dt.timedelta(seconds=3))],
    ]
    src = str(tmp_path / "width_src")

    def stage(rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    def drain(ck, width):
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(src)
        got = []
        q = (
            ingest.near_dup_hits_stream(stream, min_est=0.5)
            .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [(r["doc_id"], r["band"], r["matched_id"]) for r in got]

    def recorded_widths(ck):
        widths = set()
        offsets = os.path.join(ck, "offsets")
        for f in os.listdir(offsets):
            if f.isdigit():
                with open(os.path.join(offsets, f)) as fh:
                    meta = json.loads(fh.read().splitlines()[1])
                widths.add(meta["conf"]["spark.sql.shuffle.partitions"])
        return widths

    ck = str(tmp_path / "ck_width")
    width = spark.conf.get("spark.sql.shuffle.partitions")
    # hits are emitted on arrival: the watermark-only batches add only
    # time, which would push the test out of the fast profile
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(no_data, "false")
    try:
        stage(files[0])
        resumed = drain(ck, 2)
        stage(files[1])
        resumed += drain(ck, 3)
        assert recorded_widths(ck) == {"2"}
        whole = drain(str(tmp_path / "ck_whole"), 3)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
        spark.conf.unset(no_data)
    assert {h[0] for h in whole} == {2, 3}, whole
    assert sorted(resumed) == sorted(whole)


def _index_docs(spark):
    return spark.range(40).selectExpr(
        "id AS doc_id", "concat('document body number ', id, ' of forty') AS text"
    )


@pytest.mark.parametrize("verify", ["exact", "estimate"])
def test_build_corpus_index_gateway_round_trip_budget(
    spark, gateway_round_trips, verify
):
    """The MinHash signature, band keys and hashed shingle sets are
    SQL text, one ``selectExpr`` per projection: building an index
    costs a bounded number of py4j round trips (as Column trees,
    3,845 exact and 4,231 estimate)."""
    from timebox_spark.operators import dedup as DD

    docs = _index_docs(spark)
    n, _ = gateway_round_trips(lambda: DD.build_corpus_index(docs, verify=verify))
    assert n <= 400, n


def test_estimate_index_runs_the_minhash_kernel_once(spark):
    """With ``owned_rdds`` the estimate tier checkpoints its signature
    table — the verify table and the band table's only input — so the
    32-salt md5 kernel runs once: one checkpoint, no md5 in the
    ``__sig`` plan, and the band table reads the checkpoint."""
    from timebox_spark.operators import dedup as DD

    own: list = []
    banded, sig = DD.build_corpus_index(
        _index_docs(spark), verify="estimate", owned_rdds=own
    )
    try:
        assert len(own) == 1
        plan = sig._jdf.queryExecution().optimizedPlan().toString()
        assert "md5" not in plan.lower(), plan
        bplan = banded._jdf.queryExecution().optimizedPlan().toString()
        assert "array_min" not in bplan, bplan
        assert banded.count() == 8 * 40
    finally:
        DD.unpersist_owned(own)


def _digest_batches(spark):
    """Four seeded cycles of (doc_id, text, src) batches: a near copy
    and an exact copy of the previous cycle's docs from cycle 1 on,
    and a near copy within cycle 2."""
    import random

    rng = random.Random(11)

    def text():
        return " ".join(f"w{rng.randrange(4000)}" for _ in range(30))

    rows = {c: [(c * 100 + j, text(), f"s{j % 3}") for j in range(6)] for c in range(4)}
    for c in range(1, 4):
        rows[c].append((c * 100 + 50, rows[c - 1][0][1] + " qq", "s0"))
        rows[c].append((c * 100 + 60, rows[c - 1][1][1], "s1"))
    rows[2].append((270, rows[2][2][1] + " zz", "s2"))
    return {
        c: spark.createDataFrame(r, "doc_id long, text string, src string")
        for c, r in rows.items()
    }


def _run_digest_cycle(store, batch, cycle, verify, **knobs):
    return ingest.run_ingest_cycle(
        batch, store, cycle,
        hit_ts=batch.selectExpr("doc_id", "timestamp_seconds(doc_id) AS ts"),
        index_verify=verify, cms_col="src", **knobs,
    )


_STORE_TREES = (
    "corpus", "fps", "index/banded", "index/sets", "bloom", "bloom_band",
    "cms", "near_hits",
)


def _tree_rows(spark, path, drop=()):
    return sorted(
        r[0] for r in spark.read.parquet(path).drop(*drop)
        .selectExpr("to_json(struct(*))").collect()
    )


def _store_digests(spark, store):
    """tree -> md5 over its sorted rows (as JSON), its read schema and
    the Spark schema of every parquet footer, nullability included."""
    import glob
    import hashlib

    import pyarrow.parquet as pq

    out = {}
    for tree in _STORE_TREES:
        path = f"{store}/{tree}"
        footers = sorted({
            pq.ParquetFile(f).schema_arrow.metadata[
                b"org.apache.spark.sql.parquet.row.metadata"
            ].decode()
            for f in glob.glob(f"{path}/*/*.parquet")
        })
        text = "\n".join(
            _tree_rows(spark, path)
            + [spark.read.parquet(path).schema.json()]
            + footers
        )
        out[tree] = hashlib.md5(text.encode()).hexdigest()[:12]
    return out


# _store_digests of the four-cycle run below, as the Column-tree hash
# builders and Python-RDD sketch sentinels wrote it: the SQL-text
# builders must write the same rows in the same parquet schema
_FROZEN_STORE_DIGESTS = {
    "exact": {
        "bloom": "8648e1a9ebca",
        "bloom_band": "b92d1f71d8ee",
        "cms": "807f283a5b0b",
        "corpus": "c3c00e198c61",
        "fps": "c7942df12658",
        "index/banded": "330aedde1055",
        "index/sets": "6e1db4692ac6",
        "near_hits": "3de04e0c2234",
    },
    "estimate": {
        "bloom": "8648e1a9ebca",
        "bloom_band": "b92d1f71d8ee",
        "cms": "807f283a5b0b",
        "corpus": "c3c00e198c61",
        "fps": "c7942df12658",
        "index/banded": "330aedde1055",
        "index/sets": "ebd8312adbe2",
        "near_hits": "208ad9d34048",
    },
}


@pytest.mark.parametrize("verify", ["exact", "estimate"])
def test_ingest_cycles_write_frozen_trees(spark, tmp_path, monkeypatch, verify):
    """Four cycles with one consolidation, every tree and gate on:
    each tree's rows, schema and parquet footers equal the frozen
    digests."""
    monkeypatch.setattr(ingest, "GATE_MIN_TREE_BYTES", 0)
    store = str(tmp_path / "store")
    for c, batch in _digest_batches(spark).items():
        _run_digest_cycle(store, batch, c, verify, consolidate_every=3)
    assert _store_digests(spark, store) == _FROZEN_STORE_DIGESTS[verify]


def test_consolidation_launches_no_inference_job(spark, tmp_path, monkeypatch):
    """``consolidate_ingest_store`` reads each tree with the schema
    the cycles wrote it with: outside its writes, a consolidation
    launches no Spark job (a bare tree read runs one schema-inference
    job per tree), and the folded rows are unchanged."""
    import uuid

    from pyspark.sql.readwriter import DataFrameWriter

    store = str(tmp_path / "store")
    batches = _digest_batches(spark)
    for c in (0, 1):
        _run_digest_cycle(store, batches[c], c, "exact")
    part = {"near_hits": "batch"}
    before = {
        t: _tree_rows(spark, f"{store}/{t}", [part.get(t, "cycle")])
        for t in _STORE_TREES
    }
    sc = spark.sparkContext
    group = f"consolidate-{uuid.uuid4().hex[:8]}"
    writes = f"{group}-writes"
    write = DataFrameWriter.parquet

    def tagged_write(self, *args, **kwargs):
        sc.setJobGroup(writes, writes)
        try:
            return write(self, *args, **kwargs)
        finally:
            sc.setJobGroup(group, group)

    monkeypatch.setattr(DataFrameWriter, "parquet", tagged_write)
    sc.setJobGroup(group, group)
    try:
        ingest.consolidate_ingest_store(spark, store, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _group_job_ids(spark, group) == []
    assert _group_job_ids(spark, writes)  # the folds did write
    for t in _STORE_TREES:
        col = part.get(t, "cycle")
        dirs = [d for d in os.listdir(f"{store}/{t}") if "=" in d]
        assert dirs == [f"{col}=1"], (t, dirs)
        assert _tree_rows(spark, f"{store}/{t}", [col]) == before[t], t
