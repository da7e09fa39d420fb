"""Streaming extension tests: memory-sink windowed agg, stateful
sessionization, incremental PBF ingestion with replication cursor."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from osm_pbf_parquet_spark.streaming import ops

from pbf_encoder import golden_files, write_synthetic_pbf

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(tmp_path):
    # file stream source wants a directory
    d = tmp_path / "events"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    return str(d)


def test_windowed_counts_memory_sink(spark, events_dir):
    stream = ops.read_event_stream(spark, events_dir)
    agg = ops.windowed_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM win_counts")
        rows = out.collect()
        assert rows, "windowed agg produced no rows"
        # cross-check totals against batch
        stream_total = sum(r["n"] for r in rows)
        batch_total = spark.read.parquet(events_dir).count()
        assert stream_total == batch_total
    finally:
        q.stop()


def test_stateful_sessionize(spark, events_dir):
    stream = ops.read_event_stream(spark, events_dir)
    sessions = ops.sessionize_stateful(stream)
    q = (
        sessions.writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql(
            "SELECT user_id, max(session_count) AS sessions FROM sessions GROUP BY user_id"
        )
        rows = {r["user_id"]: r["sessions"] for r in out.collect()}
        assert rows
        # batch oracle: sessionization via window lag (same 30-min gap)
        from osm_pbf_parquet_spark.plans.relational import q_sessionize

        batch = q_sessionize(spark, SF)
        expected = {
            r["user_id"]: r["n_sessions"]
            for r in batch.groupBy("user_id")
            .agg(F.countDistinct("session_id").alias("n_sessions"))
            .collect()
        }
        assert rows == expected
    finally:
        q.stop()


def test_incremental_transcode(spark, tmp_path):
    watch = tmp_path / "incoming"
    watch.mkdir()
    out = str(tmp_path / "out")
    state = str(tmp_path / "state.txt")

    write_synthetic_pbf(str(watch / "a.pbf"), n_nodes=500, n_ways=50, n_rels=5)
    new = ops.incremental_transcode(spark, str(watch), out, state)
    assert len(new) == 1
    assert spark.read.parquet(out).count() == 555

    # idempotent: nothing new → no re-ingest
    assert ops.incremental_transcode(spark, str(watch), out, state) == []
    assert spark.read.parquet(out).count() == 555

    # second file arrives → appended
    write_synthetic_pbf(str(watch / "b.pbf"), n_nodes=300, n_ways=30, n_rels=3,
                        seed=7)
    new = ops.incremental_transcode(spark, str(watch), out, state)
    assert len(new) == 1
    assert spark.read.parquet(out).count() == 555 + 333


def test_replication_cursor_fields():
    for fixture in golden_files():
        cur = ops.replication_cursor(fixture)
        assert set(cur) == {"timestamp", "sequence", "base_url"}


def test_enrich_stream_static_broadcast_join(spark, events_dir):
    """Stream-static enrichment: every event row keeps flowing, joined
    rows gain the dimension column, and totals match the batch join."""
    batch = spark.read.parquet(events_dir)
    dim = (
        batch.select("user_id").distinct()
        .withColumn("user_tier", F.expr("CASE WHEN user_id % 2 = 0 THEN 'pro' ELSE 'free' END"))
    )
    stream = ops.read_event_stream(spark, events_dir)
    q = (
        ops.enrich_stream(stream, dim)
        .writeStream.outputMode("append")
        .format("memory").queryName("enriched").start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM enriched")
        assert out.count() == batch.count()  # left join keeps every event
        assert out.filter(F.col("user_tier").isNull()).count() == 0
        tiers = {r["user_tier"] for r in out.select("user_tier").distinct().collect()}
        assert tiers == {"pro", "free"}
    finally:
        q.stop()


@pytest.mark.slow  # r13 driver tier: operator keeps oracle-parity coverage; full tier runs this each round
def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """Watermarked stream-stream purchase←click attribution must produce
    exactly the batch interval-join result on the same data."""
    stream = ops.read_event_stream(spark, events_dir)
    q = (
        ops.attribute_purchases(stream)
        .writeStream.outputMode("append")
        .format("memory").queryName("attributed").start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT purchase_id, click_id FROM attributed")
        batch = spark.read.parquet(events_dir).withColumn(
            "event_time", F.col("ts").cast("timestamp")
        )
        expected = ops.attribute_purchases(batch).select("purchase_id", "click_id")
        assert got.count() > 0
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0
    finally:
        q.stop()


def test_dedupe_stream_drops_repeats(spark, tmp_path):
    """A duplicated input file must yield each event_id once — state
    bounded by the watermark horizon."""
    import shutil as _sh

    d = tmp_path / "dup_events"
    d.mkdir()
    _sh.copy(f"{SF}/events.parquet", d / "a.parquet")
    _sh.copy(f"{SF}/events.parquet", d / "b.parquet")  # exact duplicates
    stream = ops.read_event_stream(spark, str(d))
    deduped = ops.dedupe_stream(stream)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT event_id, count(*) AS n FROM dedup_stream GROUP BY event_id")
        n_total = out.count()
        n_dupes = out.filter(F.col("n") > 1).count()
        assert n_total > 0
        assert n_dupes == 0, "duplicate event_ids leaked through"
        base = spark.read.parquet(f"{SF}/events.parquet").count()
        assert n_total == base
    finally:
        q.stop()


def test_stream_checkpoint_exactly_once_resume(spark, tmp_path):
    """Checkpointed file-source stream: a restart with the same
    checkpointLocation reprocesses NOTHING (exactly-once over committed
    source files), and a new input file is picked up incrementally —
    the recovery contract a production ingest pipeline leans on."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src, out, chk = (str(tmp_path / d) for d in ("src", "out", "chk"))
    os.makedirs(src)
    pq.write_table(pa.table({"id": pa.array(range(10), pa.int64())}),
                   f"{src}/batch1.parquet")

    def run_once():
        q = (
            spark.readStream.schema("id long")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 10
    run_once()  # same checkpoint: no reprocessing, no duplicates
    assert spark.read.parquet(out).count() == 10
    pq.write_table(pa.table({"id": pa.array(range(100, 105), pa.int64())}),
                   f"{src}/batch2.parquet")
    run_once()  # only the new file flows through
    got = spark.read.parquet(out)
    assert got.count() == 15
    assert got.filter("id >= 100").count() == 5


# --- r7: streaming incremental dedup (11th streaming gate) ---------------------


def test_stream_incremental_dedup_equals_batch(spark):
    """The streaming restructuring (signatures on the banded explode, no
    candidate distinct, max-struct argmax) must reproduce the batch
    operator's rows EXACTLY on the same input — the streaming/batch
    unification guarantee the shared oracle rests on."""
    from osm_pbf_parquet_spark.plans.advanced_queries import ADVANCED_QUERIES
    from osm_pbf_parquet_spark.plans.stream_dedup_queries import (
        q_stream_incremental_dedup,
    )

    sf = "/root/testdata/sf0.01"
    got = sorted(
        (r["doc_id"], r["dup_of"], r["jaccard"])
        for r in q_stream_incremental_dedup(spark, sf).collect()
    )
    want = sorted(
        (r["doc_id"], r["dup_of"], r["jaccard"])
        for r in ADVANCED_QUERIES["incremental_dedup"][0](spark, sf).collect()
    )
    assert got == want and len(got) > 0


def test_stream_incremental_dedup_oracle_parity(spark):
    from osm_pbf_parquet_spark.plans.stream_dedup_queries import (
        STREAM_DEDUP_QUERIES,
    )

    from oracle_harness import run_compare

    fn, oracle = STREAM_DEDUP_QUERIES["stream_incremental_dedup"]
    run_compare(
        spark, "/root/testdata/sf0.01", "stream_incremental_dedup", fn, oracle
    )


def test_stream_incremental_dedup_is_actually_streaming(spark):
    """The gate must execute through a real streaming query (readStream
    → memory sink), not silently fall back to batch: the pre-sink frame
    is a streaming DataFrame."""
    from osm_pbf_parquet_spark.functions.caching import PersistSet
    from osm_pbf_parquet_spark.operators import dedup
    from osm_pbf_parquet_spark.plans.stream_dedup_queries import _doc_stream

    sf = "/root/testdata/sf0.01"
    incoming = (
        _doc_stream(spark, sf)
        .where(F.col("doc_id") % 5 == 0)
        .withColumn("ingest_time", F.timestamp_seconds(F.col("doc_id")))
    )
    assert incoming.isStreaming
    corpus = spark.read.parquet(f"{sf}/documents.parquet").where(
        F.col("doc_id") % 5 != 0
    )
    with PersistSet() as ps:
        sigs = ps.persist(
            dedup.minhash_signatures(corpus).select(
                "doc_id", "gram_hashes", "minhash"
            )
        )
        flagged = dedup.incremental_minhash_dedup_stream(
            incoming, sigs, watermark=("ingest_time", "1 hour")
        )
        assert flagged.isStreaming


def test_stream_incremental_dedup_string_keys(spark, tmp_path):
    """r8 (r7 verdict #3): the streaming argmax must accept the SAME key
    types as the batch path — min(struct(-jaccard, old_id)) negates the
    numeric similarity, never the key, so a STRING doc id streams
    through and still equals the batch operator row-for-row (max
    jaccard, lexicographic-min corpus key on ties)."""
    from osm_pbf_parquet_spark.functions.caching import PersistSet
    from osm_pbf_parquet_spark.operators import dedup
    from osm_pbf_parquet_spark.plans.analytic_queries import (
        _run_stream_to_table,
    )

    sf = "/root/testdata/sf0.001"
    # string keys whose LEXICOGRAPHIC order differs from numeric order
    # ('d-10' < 'd-2'), so a string-blind tiebreak would be caught
    docs = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select(
            F.concat(F.lit("d-"), F.col("doc_id").cast("string")).alias(
                "doc_id"
            ),
            "text",
            (F.col("doc_id") % 5 == 0).alias("_incoming"),
        )
    )
    src = str(tmp_path / "strdocs")
    docs.write.parquet(src)
    corpus = spark.read.parquet(src).where(~F.col("_incoming"))
    incoming_batch = spark.read.parquet(src).where(F.col("_incoming"))
    probe = spark.read.parquet(src)
    incoming_stream = (
        spark.readStream.schema(probe.schema)
        .parquet(src)
        .where(F.col("_incoming"))
    )
    with PersistSet() as ps:
        sigs = ps.persist(
            dedup.minhash_signatures(corpus).select(
                "doc_id", "gram_hashes", "minhash"
            )
        )
        want = sorted(
            (r["doc_id"], r["dup_of"], r["jaccard"])
            for r in dedup.incremental_minhash_dedup(
                incoming_batch, sigs
            ).collect()
        )
        flagged = dedup.incremental_minhash_dedup_stream(
            incoming_stream, sigs
        )
        got_tbl = _run_stream_to_table(
            spark, flagged, "stream_incdedup_str_result", "complete"
        )
        got = sorted(
            (r["doc_id"], r["dup_of"], r["jaccard"])
            for r in got_tbl.collect()
        )
    assert got == want and len(got) > 0
    assert all(isinstance(k, str) and isinstance(d, str) for k, d, _ in got)


def test_compact_changes_stateful_checkpoint_resume(spark, tmp_path):
    """r10: the replication-diff compaction keeps its aggregation STATE
    across a stream restart — after a checkpointed run consumes diff
    batch 1, a restart with the same checkpointLocation consumes ONLY
    batch 2 yet still reports the newest row per element across BOTH
    batches (state-store recovery), matching a batch compaction over
    the full change log. This is the recovery contract incremental
    snapshot maintenance leans on."""
    import datetime as dt
    import os

    from osm_pbf_parquet_spark.operators.osm_ops import compact_changes

    src, chk = (str(tmp_path / d) for d in ("osc", "chk"))
    os.makedirs(src)
    ddl = (
        "id long, type string, version int, timestamp timestamp_ntz, "
        "visible boolean, action string"
    )
    b1 = [
        (1, "node", 1, dt.datetime(2024, 1, 1), True, "create"),
        (2, "node", 1, dt.datetime(2024, 1, 1), True, "create"),
    ]
    b2 = [
        (1, "node", 2, dt.datetime(2024, 1, 2), None, "delete"),
        (3, "node", 1, dt.datetime(2024, 1, 2), True, "create"),
    ]
    spark.createDataFrame(b1, ddl).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        for q in spark.streams.active:
            if q.name == "osc_compact_ckpt":
                q.stop()
        stream = spark.readStream.schema(ddl).parquet(src)
        q = (
            compact_changes(stream)
            .writeStream.format("memory")
            .queryName("osc_compact_ckpt")
            .outputMode("complete")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["id"]: (r["version"], r["visible"])
            for r in spark.table("osc_compact_ckpt").collect()
        }

    got1 = run_once()
    assert got1 == {1: (1, True), 2: (1, True)}
    spark.createDataFrame(b2, ddl).coalesce(1).write.mode("append").parquet(src)
    got2 = run_once()  # restart: batch-1 files NOT re-read, state restored
    assert got2 == {1: (2, False), 2: (1, True), 3: (1, True)}
    # equivalence with the batch compaction over the full change log
    full = spark.createDataFrame(b1 + b2, ddl)
    batch = {
        r["id"]: (r["version"], r["visible"])
        for r in compact_changes(full).collect()
    }
    assert got2 == batch


def test_stream_replay_width_override_is_tri_state():
    """SPARK_GRAFT_STREAM_SHUFFLE: unset → min(parallelism, 8); 0 → the
    session's own width; any other value → exactly that width."""
    from osm_pbf_parquet_spark.plans.analytic_queries import _stream_replay_width

    assert _stream_replay_width(32, "200", None) == "8"
    assert _stream_replay_width(4, "200", None) == "4"
    assert _stream_replay_width(32, "200", "") == "8"
    assert _stream_replay_width(32, "200", "0") == "200"
    assert _stream_replay_width(32, "200", "3") == "3"
    assert _stream_replay_width(4, "200", "16") == "16"
    with pytest.raises(ValueError):
        _stream_replay_width(32, "200", "-1")
