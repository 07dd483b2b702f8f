"""Structured Streaming: availableNow drain over file-source events
must equal the batch twin."""

import os
import shutil

import pytest

from bank_transaction_data_warehouse_spark.plans.olap import events_windowed
from bank_transaction_data_warehouse_spark.streaming.jobs import (
    read_event_stream,
    run_to_memory,
    spend_stream,
    streaming_sessionizer,
)


@pytest.fixture()
def event_drop_dir(tmp_path, sf_dir):
    # stage the events parquet as a file-source drop directory
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), d / "part-0.parquet")
    return str(d)


def test_spend_stream_matches_batch(spark, sf_dir, event_drop_dir):
    stream = read_event_stream(spark, event_drop_dir)
    assert stream.isStreaming
    got = run_to_memory(spark, spend_stream(stream), "spend_stream_t")
    batch = events_windowed(spark, sf_dir)
    gs = {tuple(r) for r in got.collect()}
    bs = {tuple(r) for r in batch.collect()}
    assert gs == bs


def test_streaming_sessionizer_runs(spark, event_drop_dir):
    stream = read_event_stream(spark, event_drop_dir)
    out = run_to_memory(
        spark, streaming_sessionizer(stream, gap_minutes=30), "sessions_t"
    )
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.n_events >= 1 for r in rows)


def _session_rows(frame):
    return sorted(
        map(
            tuple,
            frame.select("user_id", "session_start", "n_events", "total_value")
            .collect(),
        )
    )


def test_streaming_sessionizer_agrees_with_batch(spark, sf_dir, event_drop_dir, tmp_path):
    """session_window (streaming) and the lag-window batch sessionizer
    define sessions identically (gap-closed); their per-user session
    counts and their per-session (start, n_events, total_value) rows
    must agree.  A gap of exactly ``gap_minutes`` stays in one session
    on both sides; a longer gap splits."""
    import datetime as dt

    from bank_transaction_data_warehouse_spark.operators.sessionize import (
        session_stats,
    )
    from bank_transaction_data_warehouse_spark.streaming.jobs import EVENT_SCHEMA

    stream = read_event_stream(spark, event_drop_dir)
    got = run_to_memory(
        spark, streaming_sessionizer(stream, gap_minutes=30), "sessions_cmp_t"
    )
    stream_counts = {
        r.user_id: r.n for r in
        got.groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    ev = spark.read.schema(EVENT_SCHEMA).parquet(os.path.join(sf_dir, "events.parquet"))
    batch = session_stats(ev, gap_minutes=30)
    batch_counts = {
        r.user_id: r.n for r in
        batch.groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    assert stream_counts == batch_counts
    assert _session_rows(got) == _session_rows(batch)

    # pinned boundary: 30 min apart = one session, then a 60 min gap;
    # an event without a ts belongs to no session on either side
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    pinned = spark.createDataFrame(
        [
            (1, t0, 7, "purchase", 1.0, None),
            (2, t0 + dt.timedelta(minutes=30), 7, "purchase", 2.0, None),
            (3, t0 + dt.timedelta(minutes=90), 7, "purchase", 4.0, None),
            (4, None, 7, "purchase", 2.0, None),  # no ts: dropped by both
        ],
        EVENT_SCHEMA,
    )
    d = str(tmp_path / "pinned_events")
    pinned.coalesce(1).write.parquet(d)
    pinned_stream = run_to_memory(
        spark,
        streaming_sessionizer(read_event_stream(spark, d), gap_minutes=30),
        "sessions_pinned_t",
    )
    want = [
        (7, t0, 2, 3.0),
        (7, t0 + dt.timedelta(minutes=90), 1, 4.0),
    ]
    assert _session_rows(pinned_stream) == want
    assert _session_rows(session_stats(pinned, gap_minutes=30)) == want


def test_dedup_stream_drops_redelivered_events(spark, tmp_path):
    """Feed the same event file twice (simulating at-least-once
    redelivery); the deduped stream must emit each event_id once and
    match the batch exact-dedup row count."""
    import shutil

    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        dedup_stream,
        read_event_stream,
        run_append_to_memory,
    )

    src = tmp_path / "dedup_src"
    src.mkdir()
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(200)
    events.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "drop1"))
    part = next((tmp_path / "drop1").glob("part-*.parquet"))
    shutil.copy(part, src / "a.parquet")
    shutil.copy(part, src / "b.parquet")  # exact redelivery

    out = run_append_to_memory(
        spark, dedup_stream(read_event_stream(spark, str(src))), "dedup_out"
    )
    n_distinct = events.select("event_id").distinct().count()
    assert out.count() == n_distinct
    assert out.select("event_id").distinct().count() == n_distinct


def test_stream_static_tier_agg_matches_batch(spark, tmp_path):
    """Stream-static join + windowed agg must equal the same plan run
    as a batch query over the identical data."""
    from pyspark.sql import functions as F2

    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        read_event_stream,
        run_to_memory,
        spend_stream_by_tier,
    )

    src = tmp_path / "tier_src"
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(500)
    events.coalesce(2).write.mode("overwrite").parquet(str(src))
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey",
        F2.when(F2.col("c_acctbal") >= 5000, "high")
        .when(F2.col("c_acctbal") >= 0, "mid")
        .otherwise("low")
        .alias("tier"),
    )
    out = run_to_memory(
        spark,
        spend_stream_by_tier(read_event_stream(spark, str(src)), cust),
        "tier_out",
    )
    batch = (
        spark.read.parquet(str(src))
        .join(cust.withColumnRenamed("c_custkey", "user_id"), "user_id")
        .groupBy(F2.window("ts", "1 hour").alias("w"), "tier")
        .agg(
            F2.count("*").cast("bigint").alias("n_events"),
            (F2.sum(F2.round(F2.col("value") * 100).cast("bigint")) / 100.0).alias(
                "total_value"
            ),
        )
        .select(F2.col("w.start").alias("window_start"), "tier", "n_events", "total_value")
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_chunk_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stateless streaming chunking (append mode, no state store) must
    be row-identical to the batch chunker over the same documents —
    the Kappa guarantee for the corpus ingest path."""
    import shutil as _sh

    from bank_transaction_data_warehouse_spark.operators.textstats import chunk_docs
    from bank_transaction_data_warehouse_spark.sources.tables import load_table
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        read_doc_stream,
        run_append_to_memory,
    )

    d = tmp_path / "docs_stream"
    d.mkdir()
    _sh.copy(os.path.join(sf_dir, "documents.parquet"), d / "drop-0.parquet")
    stream = read_doc_stream(spark, str(d))
    assert stream.isStreaming
    got = sorted(
        map(
            tuple,
            run_append_to_memory(
                spark, chunk_docs(stream), "chunk_stream_t"
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, chunk_docs(load_table(spark, sf_dir, "documents")).collect())
    )
    assert got == want and len(got) > 0


def test_quality_gate_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming quality gate must keep exactly the docs the batch
    expression keeps (stateless Kappa parity)."""
    import shutil as _sh

    from pyspark.sql import functions as F2

    from bank_transaction_data_warehouse_spark.functions.text import quality_flags
    from bank_transaction_data_warehouse_spark.sources.tables import load_table
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        quality_gate_stream,
        read_doc_stream,
        run_append_to_memory,
    )

    d = tmp_path / "docs_qg"
    d.mkdir()
    _sh.copy(os.path.join(sf_dir, "documents.parquet"), d / "drop-0.parquet")
    out = run_append_to_memory(
        spark,
        quality_gate_stream(read_doc_stream(spark, str(d))).select(
            "doc_id", "q_flags"
        ),
        "quality_gate_t",
    )
    batch = (
        load_table(spark, sf_dir, "documents")
        .withColumn("q_flags", quality_flags(F2.col("text")))
        .where(F2.col("q_flags") >= 2)
        .select("doc_id", "q_flags")
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_kmeans_assign_stream_matches_batch(spark, sf_dir, tmp_path):
    """Online assignment over a trained codebook must equal the batch
    assignment vector-for-vector."""
    import shutil as _sh

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from bank_transaction_data_warehouse_spark.operators.kmeans import (
        assign_clusters,
        collect_centroids,
        kmeans_fit,
        mean_stats,
    )
    from bank_transaction_data_warehouse_spark.sources.tables import load_table
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        run_append_to_memory,
    )

    embs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned_batch, _ = kmeans_fit(embs, k=8, iters=2)
    codebook = collect_centroids(mean_stats(assigned_batch))

    d = tmp_path / "vec_stream"
    d.mkdir()
    _sh.copy(os.path.join(sf_dir, "embeddings.parquet"), d / "drop-0.parquet")
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .select("vec_id", "embedding")
    )
    out = run_append_to_memory(
        spark, assign_clusters(stream, codebook).select("vec_id", "cid"),
        "kmeans_assign_t",
    )
    got = {r.vec_id: r.cid for r in out.collect()}
    want = {
        r.vec_id: r.cid for r in assign_clusters(embs, codebook).collect()
    }
    assert got == want and len(got) > 0


def test_dedup_vs_corpus_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming LSH routing against a static corpus must surface the
    same candidate pair SET as the identical batch join."""
    import shutil as _sh

    from pyspark.sql import functions as F2

    from bank_transaction_data_warehouse_spark.operators.dedup import (
        minhash_band_keys,
    )
    from bank_transaction_data_warehouse_spark.sources.tables import load_table
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        dedup_vs_corpus_stream,
        read_doc_stream,
        run_append_to_memory,
    )

    docs = load_table(spark, sf_dir, "documents")
    # static corpus = even doc_ids; stream = the full drop (so every
    # exact duplicate of an even doc must be flagged)
    corpus = docs.where(F2.col("doc_id") % 2 == 0)

    d = tmp_path / "docs_dedup_stream"
    d.mkdir()
    _sh.copy(os.path.join(sf_dir, "documents.parquet"), d / "drop-0.parquet")
    out = run_append_to_memory(
        spark,
        dedup_vs_corpus_stream(read_doc_stream(spark, str(d)), corpus),
        "dedup_vs_corpus_t",
    )
    got = {(r.doc_id, r.corpus_doc_id) for r in out.collect()}

    sb = minhash_band_keys(docs)
    cb = minhash_band_keys(corpus).select(
        F2.col("doc_id").alias("corpus_doc_id"), "band", "band_hash"
    )
    want = {
        (r.doc_id, r.corpus_doc_id)
        for r in sb.join(cb, ["band", "band_hash"])
        .where(F2.col("doc_id") != F2.col("corpus_doc_id"))
        .select("doc_id", "corpus_doc_id")
        .collect()
    }
    assert got == want and len(got) > 0


def test_txn_alert_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream watermarked interval join (two live file-source
    streams) must emit exactly the batch interval join's pair set —
    the same body runs both ways (withWatermark no-ops on batch)."""
    import os

    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        read_event_stream,
        run_append_to_memory,
        txn_alert_join_stream,
    )

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    txns_b = ev.where("event_type = 'purchase'")
    # sparse alert side, like a real fraud feed
    alerts_b = ev.where("event_type = 'error' AND event_id % 7 = 0")

    td, ad = str(tmp_path / "txns"), str(tmp_path / "alerts")
    txns_b.coalesce(1).write.parquet(td)
    alerts_b.coalesce(1).write.parquet(ad)

    joined = txn_alert_join_stream(
        read_event_stream(spark, td), read_event_stream(spark, ad)
    )
    assert joined.isStreaming
    got = {
        tuple(r)
        for r in run_append_to_memory(spark, joined, "txn_alert_t").collect()
    }
    want = {
        tuple(r) for r in txn_alert_join_stream(txns_b, alerts_b).collect()
    }
    assert got == want
    assert len(want) > 0  # the fixture must actually exercise matches


def test_pii_scrub_stream_matches_batch(spark, tmp_path):
    """The streaming PII scrub must emit bit-identical rows to the
    batch scrub over the same (PII-laden) documents."""
    from bank_transaction_data_warehouse_spark.plans.corpus import pii_scrub_frame
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        read_doc_stream,
        run_append_to_memory,
    )

    rows = [
        (0, "mail a@b.org or c.d+e@f-g.io now", "en", "s", 32),
        (1, "call 555-123-4567 and +1 (22) 333-4444", "en", "s", 38),
        (2, "acct 123456789 and 999988887777", "en", "s", 31),
        (3, "clean text with no pii at all", "en", "s", 29),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "doc_drops")
    docs.coalesce(1).write.parquet(d)

    stream = read_doc_stream(spark, d)
    out = pii_scrub_frame(stream)
    assert out.isStreaming
    got = {
        tuple(r)
        for r in run_append_to_memory(spark, out, "pii_scrub_t").collect()
    }
    want = {tuple(r) for r in pii_scrub_frame(docs).collect()}
    assert got == want
    # the fixture must actually redact something
    assert any(r[1] + r[2] + r[3] > 0 for r in want)


def test_txn_alert_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """left_outer stream-stream join: transactions with no alert in
    the interval must emit with NULL alert columns once the global
    watermark passes them (flushed by the no-data micro-batch after
    the last data batch); matched rows emit as in the inner join."""
    import datetime as dt

    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        read_event_stream,
        run_append_to_memory,
        txn_alert_join_stream,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    # plain TIMESTAMP: EventTimeWatermark rejects TIMESTAMP_NTZ
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    txns = [
        (1, base, 10, "purchase", 5.0, None),                          # matched
        (2, base + dt.timedelta(minutes=30), 11, "purchase", 7.0, None),  # no alert
        (3, base, 12, "purchase", 9.0, None),  # alert outside +-1h interval
    ]
    alerts = [
        (100, base + dt.timedelta(minutes=10), 10, "error", None, None),
        (101, base + dt.timedelta(hours=3), 12, "error", None, None),
    ]
    # sentinel rows on BOTH sides push the GLOBAL watermark (min across
    # sources) far past every real row, so unmatched state flushes
    far = base + dt.timedelta(days=365)
    txn_sent = [(9, far, -1, "purchase", 0.0, None)]
    alert_sent = [(999, far, -2, "error", None, None)]

    td, ad = tmp_path / "txns", tmp_path / "alerts"
    td.mkdir(), ad.mkdir()
    spark.createDataFrame(txns, schema).coalesce(1).write.parquet(str(td / "f1"))
    spark.createDataFrame(txn_sent, schema).coalesce(1).write.parquet(str(td / "f2"))
    spark.createDataFrame(alerts, schema).coalesce(1).write.parquet(str(ad / "f1"))
    spark.createDataFrame(alert_sent, schema).coalesce(1).write.parquet(str(ad / "f2"))

    def rstream(d):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/*")
        )

    joined = txn_alert_join_stream(
        rstream(td), rstream(ad), lag="1 hour", watermark="1 hour",
        how="left_outer",
    )
    got = {
        (r.txn_id, r.alert_id)
        for r in run_append_to_memory(spark, joined, "txn_alert_lo_t").collect()
        if r.txn_id != 9  # sentinel stays buffered inside the watermark
    }
    assert (1, 100) in got          # interval match
    assert (2, None) in got         # no alert at all -> NULL flush
    assert (3, None) in got         # alert exists but outside interval
    assert (1, None) not in got     # matched rows don't also null-emit


def test_maintain_band_index_matches_batch_and_is_idempotent(spark, sf_dir, tmp_path):
    """The streamed LSH band index must equal the batch banding of the
    whole corpus AND the DuckDB oracle's `banded` rows (the keys the
    oracle-checked LSH queries join on), and replaying all drops from
    a fresh checkpoint must leave the index unchanged
    (partition-per-drop idempotence)."""
    import shutil as _sh

    import duckdb

    from bank_transaction_data_warehouse_spark.operators.dedup import (
        minhash_band_keys,
    )
    from bank_transaction_data_warehouse_spark.plans.corpus import (
        _minhash_banded_ctes,
    )
    from bank_transaction_data_warehouse_spark.sources.tables import load_table
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        maintain_band_index,
        read_doc_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = tmp_path / "doc_drops"
    d.mkdir()
    # two drops, split by id parity
    docs.where("doc_id % 2 = 0").coalesce(1).write.parquet(str(tmp_path / "a"))
    docs.where("doc_id % 2 = 1").coalesce(1).write.parquet(str(tmp_path / "b"))
    _sh.copy(next((tmp_path / "a").glob("part-*.parquet")), d / "drop-a.parquet")
    _sh.copy(next((tmp_path / "b").glob("part-*.parquet")), d / "drop-b.parquet")

    idx_dir = str(tmp_path / "band_index")

    def drain(cp: str) -> None:
        q = maintain_band_index(
            read_doc_stream(spark, str(d)), idx_dir, str(tmp_path / cp)
        )
        q.awaitTermination()

    drain("cp1")
    got = {
        (r.doc_id, r.band, r.band_hash)
        for r in spark.read.parquet(idx_dir).collect()
    }
    want = {
        tuple(r) for r in minhash_band_keys(docs, k=64, bands=16, n=3).collect()
    }
    assert got == want and len(got) > 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
    )
    oracle = con.execute(
        f"WITH {_minhash_banded_ctes(64, 16)} "
        "SELECT doc_id, band, band_hash FROM banded"
    ).fetchall()
    assert set(oracle) == want and len(oracle) == len(want)

    # full replay from a FRESH checkpoint: every drop reprocessed;
    # the index must come out identical (no duplicate rows)
    drain("cp2")
    again = [
        (r.doc_id, r.band, r.band_hash)
        for r in spark.read.parquet(idx_dir).collect()
    ]
    assert len(again) == len(got) and set(again) == got


def test_stream_scd2_dim_maintenance(spark, sf_dir, tmp_path):
    """Streamed snapshot drops must produce the same SCD2 state as the
    equivalent sequential batch merges, and a full fresh-checkpoint
    replay must leave the state CONTENT unchanged (change-detection
    idempotence + versioned never-in-place writes)."""
    import datetime as dt

    from pyspark.sql import functions as F2

    from bank_transaction_data_warehouse_spark.operators.scd import (
        scd2_init,
        scd2_merge,
    )
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        read_scd2_state,
        stream_scd2_dim_maintenance,
    )

    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .limit(60)
    )
    state_dir = str(tmp_path / "scd2_state")
    scd2_init(dim, "2023-12-01").write.parquet(f"{state_dir}/v=0")

    # two snapshot drops touching DISJOINT keys (order-independent
    # final state — the file source's intra-run order is not pinned)
    snap_schema = (
        "c_custkey long, c_mktsegment string, c_acctbal double, snap_date date"
    )
    d1 = dim.where("c_custkey % 3 = 0").select(
        "c_custkey",
        F2.lit("MOVED").alias("c_mktsegment"),
        "c_acctbal",
        F2.lit(dt.date(2024, 1, 1)).alias("snap_date"),
    )
    d2 = dim.where("c_custkey % 3 = 1").select(
        "c_custkey",
        "c_mktsegment",
        (F2.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F2.lit(dt.date(2024, 2, 1)).alias("snap_date"),
    )
    drops = tmp_path / "snap_drops"
    drops.mkdir()
    import shutil as _sh

    for name, df in (("a", d1), ("b", d2)):
        df.coalesce(1).write.parquet(str(tmp_path / f"stage_{name}"))
        _sh.copy(
            next((tmp_path / f"stage_{name}").glob("part-*.parquet")),
            drops / f"drop-{name}.parquet",
        )

    def run(cp):
        stream = (
            spark.readStream.schema(snap_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drops))
        )
        q = stream_scd2_dim_maintenance(
            stream, state_dir, str(tmp_path / cp),
            "c_custkey", ["c_mktsegment", "c_acctbal"],
        )
        q.awaitTermination()

    run("cp1")
    got = {tuple(r) for r in read_scd2_state(spark, state_dir).collect()}

    # batch twin: same merges applied sequentially
    want_df = scd2_init(dim, "2023-12-01")
    want_df = scd2_merge(
        want_df, d1.drop("snap_date"), "c_custkey",
        ["c_mktsegment", "c_acctbal"], "2024-01-01",
    )
    want_df = scd2_merge(
        want_df, d2.drop("snap_date"), "c_custkey",
        ["c_mktsegment", "c_acctbal"], "2024-02-01",
    )
    want = {tuple(r) for r in want_df.collect()}
    assert got == want
    # the changed keys actually versioned
    assert any(not r[-1] for r in got)  # some closed rows exist

    # full replay from a fresh checkpoint: content must be unchanged
    run("cp2")
    again = {tuple(r) for r in read_scd2_state(spark, state_dir).collect()}
    assert again == got


def test_stream_scd2_multi_snapshot_single_batch(spark, sf_dir, tmp_path):
    """availableNow with no maxFilesPerTrigger delivers EVERY
    accumulated drop in one micro-batch; the maintenance loop must
    still merge one snapshot per distinct date (ascending) — feeding
    both through a single merge would fan out the full-outer join on
    duplicate naturals.  Exercises overlapping keys across snapshots,
    which the per-drop test deliberately avoids."""
    import datetime as dt

    from pyspark.sql import functions as F2

    from bank_transaction_data_warehouse_spark.operators.scd import (
        scd2_init,
        scd2_merge,
    )
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        read_scd2_state,
        stream_scd2_dim_maintenance,
    )

    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .limit(30)
    )
    state_dir = str(tmp_path / "state")
    scd2_init(dim, "2023-12-01").write.parquet(f"{state_dir}/v=0")

    # SAME keys changed twice: month 1 moves the segment, month 2
    # moves it again — the version chain must show all three states
    snap_schema = (
        "c_custkey long, c_mktsegment string, c_acctbal double, snap_date date"
    )
    d1 = dim.select(
        "c_custkey", F2.lit("M1").alias("c_mktsegment"), "c_acctbal",
        F2.lit(dt.date(2024, 1, 1)).alias("snap_date"),
    )
    d2 = dim.select(
        "c_custkey", F2.lit("M2").alias("c_mktsegment"), "c_acctbal",
        F2.lit(dt.date(2024, 2, 1)).alias("snap_date"),
    )
    drops = tmp_path / "drops"
    drops.mkdir()
    import shutil as _sh

    for name, df in (("a", d1), ("b", d2)):
        df.coalesce(1).write.parquet(str(tmp_path / f"st_{name}"))
        _sh.copy(
            next((tmp_path / f"st_{name}").glob("part-*.parquet")),
            drops / f"drop-{name}.parquet",
        )

    stream = spark.readStream.schema(snap_schema).parquet(str(drops))
    q = stream_scd2_dim_maintenance(
        stream, state_dir, str(tmp_path / "cp"),
        "c_custkey", ["c_mktsegment", "c_acctbal"],
    )
    q.awaitTermination()

    got = {tuple(r) for r in read_scd2_state(spark, state_dir).collect()}
    want_df = scd2_init(dim, "2023-12-01")
    want_df = scd2_merge(want_df, d1.drop("snap_date"), "c_custkey",
                         ["c_mktsegment", "c_acctbal"], "2024-01-01")
    want_df = scd2_merge(want_df, d2.drop("snap_date"), "c_custkey",
                         ["c_mktsegment", "c_acctbal"], "2024-02-01")
    want = {tuple(r) for r in want_df.collect()}
    assert got == want
    # every key has exactly one current row and two closed versions
    cur = [r for r in got if r[-1]]
    assert len(cur) == 30 and all(r[1] == "M2" for r in cur)
    assert len([r for r in got if not r[-1]]) == 60


def test_stream_scd2_unseeded_state_dir_raises_value_error(spark, sf_dir, tmp_path):
    """An unseeded (or all-torn) state dir must fail the stream with
    the same clear ValueError read_scd2_state raises — not a bare
    IndexError buried in an executor log (VERDICT/ADVICE r13)."""
    import datetime as dt

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F2

    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        stream_scd2_dim_maintenance,
    )

    snap_schema = (
        "c_custkey long, c_mktsegment string, c_acctbal double, snap_date date"
    )
    d1 = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .limit(5)
        .withColumn("snap_date", F2.lit(dt.date(2024, 1, 1)))
    )
    drops = tmp_path / "drops"
    drops.mkdir()
    d1.coalesce(1).write.parquet(str(tmp_path / "st"))
    import shutil as _sh

    _sh.copy(
        next((tmp_path / "st").glob("part-*.parquet")),
        drops / "drop-a.parquet",
    )
    stream = spark.readStream.schema(snap_schema).parquet(str(drops))
    q = stream_scd2_dim_maintenance(
        stream,
        str(tmp_path / "never_seeded"),
        str(tmp_path / "cp"),
        "c_custkey",
        ["c_mktsegment", "c_acctbal"],
    )
    with pytest.raises(StreamingQueryException, match="no committed SCD2 state"):
        q.awaitTermination()


def test_stream_scd2_replay_rewrites_torn_version_dir(spark, sf_dir, tmp_path):
    """A crash mid-write leaves a TORN v=N+1 (part files, no _SUCCESS).
    _scd2_versions rightly skips it, so the replayed batch recomputes
    nxt=N+1 from the last committed state — and must be able to
    REWRITE the torn dir (mode=overwrite), or the stream fails
    permanently with 'path already exists' (ADVICE r13, medium)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F2

    from bank_transaction_data_warehouse_spark.operators.scd import (
        scd2_init,
        scd2_merge,
    )
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        read_scd2_state,
        stream_scd2_dim_maintenance,
    )

    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .limit(20)
    )
    state_dir = str(tmp_path / "state")
    scd2_init(dim, "2023-12-01").write.parquet(f"{state_dir}/v=0")

    # simulate the torn write: v=1 exists with a part file but NO
    # _SUCCESS marker (what a mid-write crash leaves behind)
    torn = tmp_path / "state" / "v=1"
    torn.mkdir()
    (torn / "part-00000-torn.snappy.parquet").write_bytes(b"garbage")
    assert not os.path.exists(torn / "_SUCCESS")

    d1 = dim.select(
        "c_custkey",
        F2.lit("MOVED").alias("c_mktsegment"),
        "c_acctbal",
        F2.lit(dt.date(2024, 1, 1)).alias("snap_date"),
    )
    drops = tmp_path / "drops"
    drops.mkdir()
    d1.coalesce(1).write.parquet(str(tmp_path / "st"))
    import shutil as _sh

    _sh.copy(
        next((tmp_path / "st").glob("part-*.parquet")),
        drops / "drop-a.parquet",
    )
    snap_schema = (
        "c_custkey long, c_mktsegment string, c_acctbal double, snap_date date"
    )
    stream = spark.readStream.schema(snap_schema).parquet(str(drops))
    q = stream_scd2_dim_maintenance(
        stream, state_dir, str(tmp_path / "cp"),
        "c_custkey", ["c_mktsegment", "c_acctbal"],
    )
    q.awaitTermination()

    got = {tuple(r) for r in read_scd2_state(spark, state_dir).collect()}
    want_df = scd2_merge(
        scd2_init(dim, "2023-12-01"), d1.drop("snap_date"),
        "c_custkey", ["c_mktsegment", "c_acctbal"], "2024-01-01",
    )
    want = {tuple(r) for r in want_df.collect()}
    assert got == want
    # the torn dir was rewritten and committed
    assert os.path.exists(torn / "_SUCCESS")


def test_maintain_band_index_rate_invariant(spark, sf_dir, tmp_path):
    """The index content must be invariant to micro-batch BOUNDARIES:
    all drops in one batch (availableNow, no rate limit), one drop per
    batch (maxFilesPerTrigger=1), and a fresh-checkpoint replay at a
    different rate must all produce the identical index — the
    partition-per-drop overwrite keys on the FILE, not the batch."""
    import shutil as _sh

    from bank_transaction_data_warehouse_spark.operators.dedup import (
        minhash_band_keys,
    )
    from bank_transaction_data_warehouse_spark.sources.tables import load_table
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        DOC_SCHEMA,
        maintain_band_index,
    )

    docs = load_table(spark, sf_dir, "documents").limit(120)
    d = tmp_path / "drops"
    d.mkdir()
    for name, part in (("a", "doc_id % 3 = 0"), ("b", "doc_id % 3 = 1"),
                       ("c", "doc_id % 3 = 2")):
        docs.where(part).coalesce(1).write.parquet(str(tmp_path / name))
        _sh.copy(
            next((tmp_path / name).glob("part-*.parquet")),
            d / f"drop-{name}.parquet",
        )
    idx_dir = str(tmp_path / "idx")

    def drain(cp, max_files=None):
        stream = spark.readStream.schema(DOC_SCHEMA)
        if max_files:
            stream = stream.option("maxFilesPerTrigger", max_files)
        q = maintain_band_index(
            stream.parquet(str(d)), idx_dir, str(tmp_path / cp)
        )
        q.awaitTermination()

    # all three drops in ONE micro-batch
    drain("cp_bulk")
    got = {
        (r.doc_id, r.band, r.band_hash)
        for r in spark.read.parquet(idx_dir).collect()
    }
    want_docs = docs.where("doc_id % 3 in (0, 1, 2)")
    want = {
        tuple(r)
        for r in minhash_band_keys(want_docs, k=64, bands=16, n=3).collect()
    }
    assert got == want and len(got) > 0

    # fresh-checkpoint replay at one-drop-per-batch: content unchanged,
    # row COUNT unchanged (no per-batch duplicate accumulation)
    drain("cp_slow", max_files=1)
    again = [
        (r.doc_id, r.band, r.band_hash)
        for r in spark.read.parquet(idx_dir).collect()
    ]
    assert len(again) == len(got) and set(again) == got


def test_trending_counts_stream_matches_batch_topk(spark, sf_dir, tmp_path):
    """The stream-maintained counts table, re-aggregated and ranked,
    must equal the batch trending_topk; replay from a fresh
    checkpoint must not double-count (partition-per-drop overwrite)."""
    import shutil as _sh

    from bank_transaction_data_warehouse_spark.plans.olap import trending_topk
    from bank_transaction_data_warehouse_spark.sources.tables import load_table
    from bank_transaction_data_warehouse_spark.streaming.jobs import (
        maintain_trending_counts,
        read_event_stream,
        read_trending_topk,
    )

    ev = load_table(spark, sf_dir, "events")
    d = tmp_path / "drops"
    d.mkdir()
    for name, part in (("a", "event_id % 2 = 0"), ("b", "event_id % 2 = 1")):
        ev.where(part).coalesce(1).write.parquet(str(tmp_path / name))
        _sh.copy(
            next((tmp_path / name).glob("part-*.parquet")),
            d / f"drop-{name}.parquet",
        )
    counts_dir = str(tmp_path / "counts")

    def drain(cp):
        q = maintain_trending_counts(
            read_event_stream(spark, str(d)), counts_dir, str(tmp_path / cp)
        )
        q.awaitTermination()

    drain("cp1")
    got = {tuple(r) for r in read_trending_topk(spark, counts_dir).collect()}
    want = {tuple(r) for r in trending_topk(spark, sf_dir).collect()}
    assert got == want and len(got) > 0

    drain("cp2")  # fresh-checkpoint replay: no double counting
    again = {tuple(r) for r in read_trending_topk(spark, counts_dir).collect()}
    assert again == want
