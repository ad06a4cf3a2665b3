"""Structured Streaming smoke tests (SURVEY §2.I).

The reference's event-driven path as a file-source streaming query:
landing dir → readStream → dedup guard → foreachBatch multi-sink,
driven to completion with Trigger.AvailableNow (the S3 backfill mode).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from z316_sales_data_pipeline_spark.streaming import pipeline

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("dados_id", T.StringType()),
        T.StructField("tipo", T.StringType()),
        T.StructField("valor", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _write_landing(tmp_path, rows):
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, row in enumerate(rows):
        (landing / f"evt_{i}.json").write_text(json.dumps(row) + "\n")
    return str(landing)


def test_file_stream_multi_sink_available_now(spark, tmp_path):
    rows = [
        {"dados_id": "1", "tipo": "inclusao_pedido", "valor": 10.0, "ts": "2024-01-01T10:00:00"},
        {"dados_id": "1", "tipo": "inclusao_pedido", "valor": 10.0, "ts": "2024-01-01T10:00:05"},
        {"dados_id": "2", "tipo": "inclusao_pedido", "valor": 5.0, "ts": "2024-01-01T10:01:00"},
        {"dados_id": "3", "tipo": "outro_evento", "valor": 1.0, "ts": "2024-01-01T10:02:00"},
    ]
    landing = _write_landing(tmp_path, rows)
    out_valid = str(tmp_path / "valid")
    out_all = str(tmp_path / "all")

    stream = pipeline.file_stream(spark, landing, EVENT_SCHEMA)
    deduped = pipeline.dedup_stream(stream, ["dados_id"], "ts", "1 hour")

    sinks = {
        "valid": lambda df: (
            df.filter(F.col("tipo") == "inclusao_pedido")
            .write.mode("append")
            .parquet(out_valid)
        ),
        "all": lambda df: df.write.mode("append").parquet(out_all),
    }
    q = pipeline.run_multi_sink(deduped, sinks, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    valid = spark.read.parquet(out_valid)
    allrows = spark.read.parquet(out_all)
    # dedup guard: dados_id=1 appears once; C1 filter drops tipo=outro_evento
    assert allrows.count() == 3
    assert valid.count() == 2
    assert valid.filter(F.col("dados_id") == "1").count() == 1


def test_b7_reconciliation_backfill_closes_gap(spark, tmp_path):
    """B7+G1 end-to-end: the G1 set-difference finds sink-missing ids,
    the missing payloads are re-fed through the SAME AvailableNow query
    (same checkpoint — Spark's analogue of the reference's copy/delete
    re-trigger, gcs_to_bq-checker.py:62-79), and the difference goes to
    zero without duplicating already-loaded ids."""
    from z316_sales_data_pipeline_spark.operators import setops

    all_rows = [
        {
            "dados_id": str(i),
            "tipo": "inclusao_pedido",
            "valor": float(i),
            "ts": f"2024-01-01T10:00:{i:02d}",
        }
        for i in range(10)
    ]
    landing = tmp_path / "landing"
    landing.mkdir()
    # initial load: ids 0,3,6,9 never landed (simulated partial failure)
    for i, row in enumerate(all_rows):
        if i % 3 != 0:
            (landing / f"evt_{i}.json").write_text(json.dumps(row) + "\n")
    sink = str(tmp_path / "sink")

    def run_available_now():
        stream = pipeline.file_stream(spark, str(landing), EVENT_SCHEMA)
        q = pipeline.run_multi_sink(
            pipeline.dedup_stream(stream, ["dados_id"], "ts", "1 hour"),
            {"sink": lambda df: df.write.mode("append").parquet(sink)},
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    run_available_now()
    source_ids = spark.createDataFrame([(r["dados_id"],) for r in all_rows], "id string")
    sink_ids = spark.read.parquet(sink).select(F.col("dados_id").alias("id"))
    missing = {r["id"] for r in setops.difference(source_ids, sink_ids).collect()}
    assert missing == {"0", "3", "6", "9"}

    # B7 re-trigger: drop the missing payloads back into landing; the
    # same checkpoint means only the unseen files are processed
    for i in sorted(int(m) for m in missing):
        (landing / f"refeed_{i}.json").write_text(json.dumps(all_rows[i]) + "\n")
    run_available_now()

    sink_df = spark.read.parquet(sink)
    assert setops.difference(source_ids, sink_df.select(F.col("dados_id").alias("id"))).count() == 0
    assert sink_df.groupBy("dados_id").count().filter(F.col("count") > 1).count() == 0


def test_dedup_state_crosses_micro_batches(spark, tmp_path):
    """S2 — the dedup guard's state outlives the micro-batch: a
    duplicate dados_id arriving in a LATER batch (within the watermark)
    is dropped, not re-emitted."""
    landing = tmp_path / "landing"
    landing.mkdir()
    first = {"dados_id": "1", "tipo": "inclusao_pedido", "valor": 10.0, "ts": "2024-01-01T10:00:00"}
    dup = {"dados_id": "1", "tipo": "inclusao_pedido", "valor": 99.0, "ts": "2024-01-01T10:05:00"}
    fresh = {"dados_id": "2", "tipo": "inclusao_pedido", "valor": 5.0, "ts": "2024-01-01T10:06:00"}
    (landing / "b0.json").write_text(json.dumps(first) + "\n")
    (landing / "b1.json").write_text(json.dumps(dup) + "\n" + json.dumps(fresh) + "\n")
    # the file source orders micro-batches by modification time — pin
    # distinct mtimes or the two batches race and the test flakes
    import os

    now = os.path.getmtime(landing / "b1.json")
    os.utime(landing / "b0.json", (now - 60, now - 60))
    os.utime(landing / "b1.json", (now, now))

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .json(str(landing))
    )
    out = str(tmp_path / "out")
    q = pipeline.run_multi_sink(
        pipeline.dedup_stream(stream, ["dados_id"], "ts", "1 hour"),
        {"out": lambda df: df.write.mode("append").parquet(out)},
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 2  # the later-batch duplicate was dropped by state
    assert got.filter(F.col("dados_id") == "1").collect()[0]["valor"] == 10.0


def test_running_user_totals_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: state accumulates across micro-batches —
    the second batch's emission includes the first batch's events."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"user_id": [1, 1, 2], "value": [10.0, 5.0, 7.0]}).to_parquet(src / "b0.parquet")
    pd.DataFrame({"user_id": [1, 2], "value": [2.0, 3.0]}).to_parquet(src / "b1.parquet")

    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force one micro-batch per file
        .parquet(str(src))
    )
    q = (
        pipeline.running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM running_out").collect()
    # update-mode memory sink appends each batch's emissions; n_events
    # is cumulative, so the max-n row per user is the final state
    last = {}
    for r in rows:
        if r["user_id"] not in last or r["n_events"] > last[r["user_id"]][0]:
            last[r["user_id"]] = (r["n_events"], r["total_value"])
    assert last[1] == (3, 17.0)
    assert last[2] == (2, 10.0)
    # both users emitted more than once => state really crossed batches
    assert len(rows) >= 3


def test_interval_join_stream_matches_batch(spark, tmp_path, sf_dir):
    """Watermarked stream-stream interval join emits exactly the pairs
    the batch bucketed range join produces."""
    from z316_sales_data_pipeline_spark.operators import joins as J
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    p_dir, c_dir = str(tmp_path / "p"), str(tmp_path / "c")
    purchases.write.parquet(p_dir)
    clicks.write.parquet(c_dir)

    p_stream = spark.readStream.schema(purchases.schema).parquet(p_dir)
    c_stream = spark.readStream.schema(clicks.schema).parquet(c_dir)
    q = (
        pipeline.interval_join_stream(p_stream, c_stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("interval_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.sql(
        "SELECT event_id, click_ts FROM interval_out").collect()}
    want = {
        tuple(r)
        for r in J.range_join_bucketed(
            purchases, clicks, key="user_id", left_ts="ts", right_ts="click_ts",
            lower_s=3600, upper_s=0,
        ).select("event_id", "click_ts").collect()
    }
    assert got == want and got


def test_session_timeout_evicts_and_emits_once(spark, tmp_path):
    """Event-time timeout sessionizer: a session closes (one emitted
    row, state removed) only when the watermark passes last-event +
    gap; still-open sessions emit nothing."""
    import os

    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    # b0: user 1's session at 10:00; b1: unrelated traffic at 20:00
    # advances the watermark; b2's traffic at 21:00 lets the timeout
    # (10:30) fire during a batch whose START watermark is 20:00.
    def write_batch(name, users, times, values):
        # micros timestamps: pandas' default nanos parquet would clash
        # with the declared TimestampType stream schema
        pd.DataFrame(
            {"user_id": users, "ts": pd.to_datetime(times).astype("datetime64[us]"), "value": values}
        ).to_parquet(src / name)

    write_batch("b0.parquet", [1, 1], ["2024-01-01 10:00:00", "2024-01-01 10:05:00"], [1.0, 2.0])
    write_batch("b1.parquet", [2], ["2024-01-01 20:00:00"], [5.0])
    write_batch("b2.parquet", [3], ["2024-01-01 21:00:00"], [7.0])
    now = os.path.getmtime(src / "b2.parquet")
    for i, f in enumerate(["b0.parquet", "b1.parquet", "b2.parquet"]):
        os.utime(src / f, (now - 60 * (3 - i), now - 60 * (3 - i)))

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = (
        pipeline.session_totals_with_timeout(stream, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["user_id"]: r for r in spark.sql("SELECT * FROM sessions_out").collect()}
    # user 1 closed by b1's watermark (10:05+30m < 20:00); user 2 closed
    # by b2's (20:00+30m < 21:00); user 3 still open — nothing emitted
    assert set(rows) == {1, 2}, rows
    assert rows[1]["n_events"] == 2 and rows[1]["total_value"] == 3.0
    assert str(rows[1]["session_start"]).startswith("2024-01-01 10:00")
    assert str(rows[1]["session_end"]).startswith("2024-01-01 10:05")
    assert rows[2]["n_events"] == 1 and rows[2]["total_value"] == 5.0


def test_session_timeout_splits_gap_within_batch(spark, tmp_path):
    """Events far apart in the SAME micro-batch must still split into
    separate sessions — output must not depend on micro-batch alignment
    (one-file-per-trigger batches would hide a merge bug)."""
    import os

    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()

    def write_batch(name, users, times, values):
        pd.DataFrame(
            {"user_id": users, "ts": pd.to_datetime(times).astype("datetime64[us]"), "value": values}
        ).to_parquet(src / name)

    # b0: ONE batch holds two user-1 sessions (10:00-10:05 and 12:00-12:10,
    # separated by ~2h >> 30m gap) — out of time order to exercise the sort.
    write_batch(
        "b0.parquet",
        [1, 1, 1, 1],
        ["2024-01-01 12:00:00", "2024-01-01 10:00:00", "2024-01-01 10:05:00", "2024-01-01 12:10:00"],
        [4.0, 1.0, 2.0, 8.0],
    )
    # b1: unrelated traffic at 20:00 advances the watermark past 12:10+30m
    # so the trailing open session times out and is emitted too.
    write_batch("b1.parquet", [2], ["2024-01-01 20:00:00"], [5.0])
    write_batch("b2.parquet", [3], ["2024-01-01 21:00:00"], [7.0])
    now = os.path.getmtime(src / "b2.parquet")
    for i, f in enumerate(["b0.parquet", "b1.parquet", "b2.parquet"]):
        os.utime(src / f, (now - 60 * (3 - i), now - 60 * (3 - i)))

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = (
        pipeline.session_totals_with_timeout(stream, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_split_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    u1 = sorted(
        (
            (str(r["session_start"]), str(r["session_end"]), r["n_events"], r["total_value"])
            for r in spark.sql(
                "SELECT * FROM sessions_split_out WHERE user_id = 1"
            ).collect()
        )
    )
    assert len(u1) == 2, u1
    assert u1[0][0].startswith("2024-01-01 10:00") and u1[0][1].startswith("2024-01-01 10:05")
    assert u1[0][2] == 2 and u1[0][3] == 3.0
    assert u1[1][0].startswith("2024-01-01 12:00") and u1[1][1].startswith("2024-01-01 12:10")
    assert u1[1][2] == 2 and u1[1][3] == 12.0


def test_chunking_streaming_matches_batch(spark, tmp_path, sf_dir):
    """The corpus chunker is a narrow map, so the SAME code runs over
    readStream unchanged (batch/stream unification for the training-
    data path) and emits identical chunk rows."""
    from z316_sales_data_pipeline_spark.operators import corpus
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(100)
    staged = str(tmp_path / "docs_parquet")
    docs.write.parquet(staged)

    batch = corpus.chunk_documents(
        spark.read.parquet(staged), "text", "doc_id", chunk_tokens=32, stride=24
    )
    stream_src = spark.readStream.schema(spark.read.parquet(staged).schema).parquet(staged)
    q = (
        corpus.chunk_documents(stream_src, "text", "doc_id", chunk_tokens=32, stride=24)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("chunks_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM chunks_out").collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and got


def test_tumbling_counts_streaming_matches_batch(spark, tmp_path, sf_dir):
    """The windowed agg gives identical results via readStream and batch
    (unified code path, S3)."""
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").limit(200)
    staged = str(tmp_path / "events_parquet")
    ev.write.parquet(staged)

    batch_out = pipeline.tumbling_counts(spark.read.parquet(staged))
    stream_src = spark.readStream.schema(spark.read.parquet(staged).schema).parquet(staged)
    stream_agg = pipeline.tumbling_counts(stream_src)
    q = (
        stream_agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM tumbling_out").collect()}
    want = {tuple(r) for r in batch_out.collect()}
    assert got == want


def test_incremental_dedup_streaming_matches_batch(spark, sf_dir, tmp_path):
    """Continuous-ingestion exact dedup: new docs arriving as a STREAM
    (foreachBatch probing the same at-rest corpus fingerprints) emit
    exactly the batch query's dup report — each new doc lands in one
    micro-batch, so the unioned per-batch probes equal the one-shot
    batch run."""
    import __spark_entry__ as m
    from z316_sales_data_pipeline_spark.functions import text as tx
    from z316_sales_data_pipeline_spark.operators import bloom
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    fp = tx.token_set_fingerprint("text")
    corpus = docs.filter(F.col("source") != "src0").select(
        F.col("doc_id").alias("corpus_doc_id"), fp.alias("fp")
    )
    # at-rest index (what a real pipeline would have materialized)
    corpus_path = str(tmp_path / "corpus_fp")
    corpus.write.parquet(corpus_path)
    corpus_at_rest = spark.read.parquet(corpus_path)

    # stage the new batch as multiple files → multiple micro-batches
    new_src = str(tmp_path / "new_docs")
    docs.filter(F.col("source") == "src0").repartition(4).write.parquet(new_src)

    results = []

    def probe(batch_df, epoch_id):
        new = batch_df.select("doc_id", fp.alias("fp"))
        cand = bloom.bloom_prune(corpus_at_rest, "fp", bloom.build_bloom(new, "fp"))
        out = (
            new.join(cand, "fp")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_corpus_matches"),
                F.min("corpus_doc_id").alias("first_corpus_match"),
            )
        )
        results.extend(tuple(r) for r in out.collect())

    stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(new_src)
    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = {tuple(r) for r in m.queries()["dedup_incremental_exact"](spark, sf_dir).collect()}
    assert set(results) == want and want


def test_cms_streaming_partials_merge_to_batch(spark, sf_dir, tmp_path):
    """Count-min at-rest maintenance under streaming ingest: each
    micro-batch appends its CMS partial to the sketch table; merging
    the accumulated partials equals the direct single-pass sketch of
    everything ingested — counter-sum associativity makes the sketch
    table maintainable by blind appends, no read-modify-write."""
    from z316_sales_data_pipeline_spark.operators import sketch
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_src")
    ev.repartition(4).write.parquet(src)
    sketch_path = str(tmp_path / "cms_partials")

    def append_partial(batch_df, epoch_id):
        part = sketch.cms_table(batch_df, "user_id", F.lit(epoch_id), d=4, w=64)
        part.write.mode("append").parquet(sketch_path)

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream.writeStream.foreachBatch(append_partial)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = {
        (r["row"], r["bucket"]): r["c"]
        for r in sketch.cms_merge(spark.read.parquet(sketch_path)).collect()
    }
    direct = {
        (r["row"], r["bucket"]): r["c"]
        for r in sketch.cms_merge(sketch.cms_table(ev, "user_id", F.lit(0), d=4, w=64)).collect()
    }
    assert merged == direct and merged


def test_streaming_cluster_maintenance_matches_batch(spark, sf_dir, tmp_path):
    """Continuous cluster maintenance: new docs arrive as a STREAM and
    every micro-batch advances the snapshot-sink labels via
    connected_components_incremental (v=1 pre-batch, v=2..N per
    micro-batch). After the stream drains, _LATEST equals the one-shot
    batch CC over everything — the multi-step version of the
    cluster_labels build loop, with pairs released only once BOTH
    endpoints have been ingested (as the incremental near-dup job
    would emit them)."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import dedup
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", "source", 0.5, shingle_k=1)
    pairs_path = str(tmp_path / "pairs")
    pairs.select("id_a", "id_b").write.parquet(pairs_path)
    all_pairs = spark.read.parquet(pairs_path)

    old = docs.filter(F.col("doc_id") % 5 != 0)
    t = str(tmp_path / "labels")
    sinks.write_snapshot(
        dedup.connected_components(
            old.select("doc_id"),
            all_pairs.join(old.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
            .join(old.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"),
            id_col="doc_id",
        ),
        t,
    )

    new_src = str(tmp_path / "new_docs")
    docs.filter(F.col("doc_id") % 5 == 0).repartition(3).write.parquet(new_src)

    seen: set[int] = set(r["doc_id"] for r in old.select("doc_id").collect())

    def maintain(batch_df, epoch_id):
        batch_ids = [r["doc_id"] for r in batch_df.select("doc_id").collect()]
        if not batch_ids:
            return
        seen.update(batch_ids)
        visible = spark.createDataFrame([(i,) for i in sorted(seen)], "doc_id long")
        batch_rel = spark.createDataFrame([(i,) for i in batch_ids], "doc_id long")
        # pairs touching this batch whose other endpoint has landed
        eligible = (
            all_pairs.join(
                batch_rel.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi"
            )
            .unionByName(
                all_pairs.join(
                    batch_rel.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
                )
            )
            .distinct()
            .join(visible.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
            .join(visible.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
        )
        maintained = dedup.connected_components_incremental(
            sinks.read_snapshot(spark, t), batch_rel, eligible, id_col="doc_id"
        )
        sinks.write_snapshot(maintained, t)

    stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(new_src)
    q = (
        stream.writeStream.foreachBatch(maintain)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {tuple(r) for r in sinks.read_snapshot(spark, t).collect()}
    want = {
        tuple(r)
        for r in dedup.connected_components(
            docs.select("doc_id"), all_pairs, id_col="doc_id"
        ).collect()
    }
    assert got == want and want


def test_watermark_drops_late_event_in_append_mode(spark, tmp_path):
    """Late-data semantics pinned explicitly: in append mode a window
    only emits once the watermark passes its end, and an event arriving
    AFTER the watermark has moved beyond its window is dropped — the
    bounded-state guarantee that lets the windowed agg run forever on
    an unbounded stream."""
    import datetime as dt

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    schema = "event_id long, ts timestamp, event_type string, value double"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    emitted = []

    def sink(batch_df, epoch_id):
        emitted.extend(
            (r["window_start"], r["n"], r["total_value"]) for r in batch_df.collect()
        )

    def run_available():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        agg = pipeline.tumbling_counts(stream, window_len="1 hour", watermark="30 minutes")
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def stage(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    # run 1: two on-time events in the 10:00 window — nothing emits
    # (watermark 9:35 has not passed the window end)
    stage([(1, t0, "a", 1.0), (2, t0 + dt.timedelta(minutes=5), "a", 1.0)])
    run_available()
    assert emitted == []
    # run 2: an event far in the future advances the watermark past
    # 11:00 — the 10:00 window finalizes and emits exactly once
    stage([(3, t0 + dt.timedelta(hours=5), "a", 1.0)])
    run_available()
    assert (t0, 2, 2.0) in set(emitted), emitted
    n_after_run2 = len(emitted)
    # run 3: a LATE event for the closed 10:00 window — dropped by the
    # checkpointed watermark, no re-emission, no merged count
    stage([(4, t0 + dt.timedelta(minutes=10), "a", 100.0)])
    run_available()
    rows = set(emitted)
    assert len(emitted) == n_after_run2, emitted
    assert not any(v == 102.0 or n == 3 for (_, n, v) in rows), rows


def test_streaming_minhash_index_maintenance_matches_batch(spark, sf_dir, tmp_path):
    """VERDICT r4 item 7: the MinHash corpus index gets the same
    stream-maintenance loop the CC labels got — new docs arrive as a
    STREAM and every micro-batch appends ONLY its own shingle and
    signature rows through the append-segment snapshot sink (O(batch)
    per trigger, one pointer flip, old segments never rewritten: the
    reference's S6 foreachBatch x B2 append semantics on the heaviest
    derived relation). After the stream drains, read_appended equals a
    one-shot batch rebuild of both relations — exact, because shingles
    and signatures are per-doc. The batch build in
    plans/pair_graph.minhash_corpus_index replays v=1 base + v=2
    appended slice of exactly this loop."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import dedup
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    ex_dir = str(tmp_path / "mh_ex")
    idx_dir = str(tmp_path / "mh_idx")
    # v=1: the already-ingested base (corpus minus the streaming slice)
    arriving = F.col("doc_id") % 9 == 2
    base_ex = dedup.shingle_table(corpus.filter(~arriving), "text", "doc_id", 3, portable=True)
    sinks.append_snapshot(base_ex, ex_dir)
    sinks.append_snapshot(dedup.minhash_index(base_ex, "doc_id", 16, 8), idx_dir)

    new_src = str(tmp_path / "new_docs")
    corpus.filter(arriving).repartition(3).write.parquet(new_src)

    def maintain(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        seg_ex = dedup.shingle_table(batch_df, "text", "doc_id", 3, portable=True)
        v = sinks.append_snapshot(seg_ex, ex_dir)
        sinks.append_snapshot(
            dedup.minhash_index(
                spark.read.parquet(f"{ex_dir}/v={v}"), "doc_id", 16, 8
            ),
            idx_dir,
        )

    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(new_src)
    )
    q = (
        stream.writeStream.foreachBatch(maintain)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    want_ex = dedup.shingle_table(corpus, "text", "doc_id", 3, portable=True)
    want_idx = dedup.minhash_index(want_ex, "doc_id", 16, 8)
    got_ex = sinks.read_appended(spark, ex_dir)
    got_idx = sinks.read_appended(spark, idx_dir)
    assert {tuple(r) for r in got_ex.collect()} == {tuple(r) for r in want_ex.collect()}
    assert {tuple(r) for r in got_idx.collect()} == {tuple(r) for r in want_idx.collect()}

    # multi-batch really happened (base + >=2 micro-batches), and the
    # append stayed O(batch): the last segment holds only its batch docs
    import os

    n_versions = len([d for d in os.listdir(ex_dir) if d.startswith("v=")])
    assert n_versions >= 3
    last = spark.read.parquet(f"{ex_dir}/v={n_versions}")
    assert last.count() < got_ex.count()
    # time travel: v=1 is exactly the pre-stream base
    assert sinks.read_appended(spark, ex_dir, version=1).count() == base_ex.count()


def test_streaming_pair_graph_and_labels_end_to_end(spark, sf_dir, tmp_path):
    """The WHOLE continuous-ingestion chain under one stream: per
    micro-batch, (1) ngram_jaccard_pairs_incremental computes only the
    pairs touching the batch against the docs seen so far (every pair
    is emitted exactly when its later endpoint lands — no pair is
    computed twice, none re-pairs the corpus), (2) the pair segment is
    APPENDED through the snapshot pointer, (3) the labels advance via
    connected_components_incremental. After the stream drains, the
    appended pair table equals the one-shot batch pair build AND the
    maintained labels equal one-shot batch CC — the end-to-end proof
    that pair graph → labels both live as maintained at-rest state
    with O(batch) work per trigger."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import dedup
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    arriving = F.col("doc_id") % 5 == 0
    base = docs.filter(~arriving).localCheckpoint(eager=True)

    pairs_dir = str(tmp_path / "pairs")
    labels_dir = str(tmp_path / "labels")
    base_pairs = dedup.ngram_jaccard_pairs(
        base, "text", "doc_id", "source", threshold=0.5, shingle_k=1
    )
    sinks.append_snapshot(base_pairs, pairs_dir)
    sinks.write_snapshot(
        dedup.connected_components(
            base.select("doc_id"), base_pairs, id_col="doc_id"
        ),
        labels_dir,
    )

    new_src = str(tmp_path / "new_docs")
    docs.filter(arriving).repartition(3).write.parquet(new_src)
    seen_dir = str(tmp_path / "seen")
    base.select("doc_id", "source", "text").write.parquet(seen_dir)

    def maintain(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        batch = batch_df.select("doc_id", "source", "text").localCheckpoint(eager=True)
        seen = spark.read.parquet(seen_dir)
        new_pairs = dedup.ngram_jaccard_pairs_incremental(
            batch, seen, "text", "doc_id", "source", threshold=0.5, shingle_k=1
        )
        sinks.append_snapshot(new_pairs, pairs_dir)
        maintained = dedup.connected_components_incremental(
            sinks.read_snapshot(spark, labels_dir),
            batch.select("doc_id"),
            new_pairs.select("id_a", "id_b"),
            id_col="doc_id",
        )
        sinks.write_snapshot(maintained, labels_dir)
        batch.write.mode("append").parquet(seen_dir)

    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(new_src)
    )
    q = (
        stream.writeStream.foreachBatch(maintain)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    want_pairs = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", "source", threshold=0.5, shingle_k=1
        ).collect()
    }
    got_pairs = {tuple(r) for r in sinks.read_appended(spark, pairs_dir).collect()}
    assert got_pairs == want_pairs and got_pairs

    want_labels = {
        tuple(r)
        for r in dedup.connected_components(
            docs.select("doc_id"),
            spark.createDataFrame(
                [(a, b) for (_, a, b, _) in sorted(want_pairs)], "id_a long, id_b long"
            ),
            id_col="doc_id",
        ).collect()
    }
    got_labels = {tuple(r) for r in sinks.read_snapshot(spark, labels_dir).collect()}
    assert got_labels == want_labels

    import os

    n_pair_versions = len([d for d in os.listdir(pairs_dir) if d.startswith("v=")])
    assert n_pair_versions >= 3  # base + >= 2 micro-batches really appended


def test_streaming_hypertable_rollup_maintenance_matches_batch(spark, sf_dir, tmp_path):
    """Continuous aggregate (plans/rollup.py): events arrive as a
    STREAM and every micro-batch appends ONLY its own (bucket_day,
    event_type) PARTIALS through the append-segment sink — O(batch)
    per trigger, raw events never rescanned. After the stream drains,
    merging the maintained partials equals the one-shot direct
    aggregate over all events bit-for-bit (counts and integer-cent
    sums are commutative monoids, so segment boundaries — including
    late rows landing a bucket's delta in a later segment — cannot
    perturb the merge)."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.plans import rollup
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    table_dir = str(tmp_path / "ht_rollup")
    quant_dir = str(tmp_path / "ht_quant")

    # v=1: partials of the already-ingested base (sum AND sketch forms)
    arriving = F.col("event_id") % 9 == 2
    sinks.append_snapshot(rollup.event_partials(ev.filter(~arriving)), table_dir)
    sinks.append_snapshot(rollup.value_histogram_partials(ev.filter(~arriving)), quant_dir)

    new_src = str(tmp_path / "new_events")
    ev.filter(arriving).repartition(3).write.parquet(new_src)

    def maintain(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        # epoch-keyed: a re-delivered trigger cannot double the segment
        sinks.append_snapshot(
            rollup.event_partials(batch_df), table_dir, txn_key=f"ht-{epoch_id}"
        )
        sinks.append_snapshot(
            rollup.value_histogram_partials(batch_df), quant_dir, txn_key=f"hq-{epoch_id}"
        )

    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(new_src)
    )
    q = (
        stream.writeStream.foreachBatch(maintain)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = rollup.merge_partials(
        sinks.read_appended(spark, table_dir).select(
            "bucket_day", "event_type", "n_partial", "cents_partial"
        )
    )
    want = rollup.merge_partials(rollup.event_partials(ev))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    # the histogram-sketch partials merge to the direct bucket counts
    # the same way (the quantile half of the continuous aggregate)
    got_q = (
        sinks.read_appended(spark, quant_dir)
        .groupBy("bucket_day", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    want_q = (
        rollup.value_histogram_partials(ev)
        .groupBy("bucket_day", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    assert {tuple(r) for r in got_q.collect()} == {tuple(r) for r in want_q.collect()}

    # the stream really appended >= 2 segments, and each segment is
    # bucket-grain partials (tiny), not raw events
    import os

    n_versions = len([d for d in os.listdir(table_dir) if d.startswith("v=")])
    assert n_versions >= 3
    last = spark.read.parquet(f"{table_dir}/v={n_versions}")
    assert last.count() <= 31 * 4  # days x event types upper bound

    # compaction folds segments back to one; the merge is unchanged
    sinks.compact_appended(spark, table_dir)
    got2 = rollup.merge_partials(
        sinks.read_appended(spark, table_dir).select(
            "bucket_day", "event_type", "n_partial", "cents_partial"
        )
    )
    assert {tuple(r) for r in got2.collect()} == {tuple(r) for r in want.collect()}


def test_streaming_vector_index_maintenance_matches_batch(spark, sf_dir, tmp_path):
    """The vector-serving indexes under one stream: arriving embedding
    vectors land per micro-batch, and each trigger appends ONLY its own
    rows to BOTH the cell-partitioned IVF layout and the PQ codes
    table, assigned/encoded with the FROZEN models (coarse centroids
    and codebook are the n lowest-id vectors — all in the base, never
    retrained by an append, exactly as in a served IVF-PQ index).
    After the stream drains, both maintained tables equal their
    one-shot batch builds — with the pair-graph, MinHash-index and
    hypertable-rollup streaming tests, every maintained at-rest
    relation now has a per-micro-batch maintenance proof."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import similarity
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    n_cells = n_codes = 16
    cents = similarity._centroids(emb, "embedding", "vec_id", n_cells)
    cb = similarity._pq_codebook_df(emb, "embedding", "vec_id", 4, n_codes)

    arriving = (F.col("vec_id") % 9 == 2) & (F.col("vec_id") > 8 * n_cells)
    ivf_dir, pq_dir = str(tmp_path / "ivf"), str(tmp_path / "pq")
    base = emb.filter(~arriving)
    sinks.append_snapshot(
        similarity.ivf_assign(base, "embedding", cents), ivf_dir, partition_by="cell"
    )
    sinks.append_snapshot(
        similarity.pq_encode(base, "embedding", "vec_id", 4, n_codes, codebook=cb), pq_dir
    )

    new_src = str(tmp_path / "new_vecs")
    emb.filter(arriving).repartition(3).write.parquet(new_src)

    def maintain(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        sinks.append_snapshot(
            similarity.ivf_assign(batch_df, "embedding", cents),
            ivf_dir,
            partition_by="cell",
            txn_key=f"ivf-{epoch_id}",
        )
        sinks.append_snapshot(
            similarity.pq_encode(batch_df, "embedding", "vec_id", 4, n_codes, codebook=cb),
            pq_dir,
            txn_key=f"pq-{epoch_id}",
        )

    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(new_src)
    )
    q = (
        stream.writeStream.foreachBatch(maintain)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got_ivf = {
        (r["vec_id"], r["cell"])
        for r in sinks.read_appended(spark, ivf_dir).select("vec_id", "cell").collect()
    }
    want_ivf = {
        (r["vec_id"], r["cell"])
        for r in similarity.ivf_assign(emb, "embedding", cents).select("vec_id", "cell").collect()
    }
    assert got_ivf == want_ivf
    got_pq = {tuple(r) for r in sinks.read_appended(spark, pq_dir).collect()}
    want_pq = {
        tuple(r)
        for r in similarity.pq_encode(emb, "embedding", "vec_id", 4, n_codes, codebook=cb).collect()
    }
    assert got_pq == want_pq

    # multi-batch really happened and appends stayed O(batch)
    import os

    n_versions = len([d for d in os.listdir(pq_dir) if d.startswith("v=")])
    assert n_versions >= 3
    assert spark.read.parquet(f"{pq_dir}/v={n_versions}").count() < len(got_pq)


def test_compaction_policy_and_late_day_bucket_across_compaction(spark, sf_dir, tmp_path):
    """r5 VERDICT items 5+6 on one lifecycle. (5) maybe_compact bounds
    read amplification: the foreachBatch maintenance loop appends one
    partials segment per trigger and applies the segment-count policy
    after each append, so folds interleave with appends mid-stream and
    the committed segment count never exceeds max_segments + 1. (6) a
    LATE slice of the OLDEST day then arrives out of order as a new
    segment — the served rollup must equal the direct aggregate before
    compaction, after compaction (the reference's backfill-replay
    semantics: api_to_gcs-backfill.py re-fires old-day payloads and the
    pipeline converges to the same table), and after a post-compaction
    replay of the late epoch (exactly-once via the _TXNS log)."""
    import os

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.plans import rollup
    from z316_sales_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    table_dir = str(tmp_path / "ht")

    min_day = ev.agg(F.min(F.date_trunc("day", F.col("ts"))).alias("d")).collect()[0]["d"]
    is_late = (F.date_trunc("day", F.col("ts")) == F.lit(min_day)) & (F.col("event_id") % 2 == 0)
    is_streamed = (~is_late) & (F.col("event_id") % 9 == 2)
    base = ev.filter(~(is_late | is_streamed))
    assert ev.filter(is_late).count() > 0  # the late slice really exists
    # the oldest day's bucket already exists in the base (the late rows
    # are a DELTA to an old bucket, not a brand-new bucket)
    assert base.filter(F.date_trunc("day", F.col("ts")) == F.lit(min_day)).count() > 0

    sinks.append_snapshot(rollup.event_partials(base), table_dir, txn_key="base")

    src = str(tmp_path / "src")
    ev.filter(is_streamed).repartition(4).write.parquet(src)

    max_segments = 2
    high_water = []

    def maintain(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        sinks.append_snapshot(
            rollup.event_partials(batch_df), table_dir, txn_key=f"e-{epoch_id}"
        )
        high_water.append(sinks.committed_segment_count(table_dir))
        sinks.maybe_compact(batch_df.sparkSession, table_dir, max_segments=max_segments)

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream.writeStream.foreachBatch(maintain)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # (5) the policy actually fired (appends exceeded the bound at some
    # point) and held: segment count right after any append is at most
    # max_segments + 1, and the final count is back under the bound
    assert len(high_water) >= 3  # several triggers really appended
    assert max(high_water) == max_segments + 1
    assert sinks.committed_segment_count(table_dir) <= max_segments + 1

    def served():
        return {
            tuple(r)
            for r in rollup.merge_partials(
                sinks.read_appended(spark, table_dir).select(
                    "bucket_day", "event_type", "n_partial", "cents_partial"
                )
            ).collect()
        }

    want_no_late = {
        tuple(r) for r in rollup.merge_partials(rollup.event_partials(ev.filter(~is_late))).collect()
    }
    assert served() == want_no_late  # folds interleaved with appends: still exact

    # (6) the late slice lands its old-day delta as a NEW segment
    sinks.append_snapshot(rollup.event_partials(ev.filter(is_late)), table_dir, txn_key="late")
    want_all = {tuple(r) for r in rollup.merge_partials(rollup.event_partials(ev)).collect()}
    assert served() == want_all  # pre-compaction
    sinks.compact_appended(spark, table_dir)
    assert served() == want_all  # post-compaction
    assert sinks.committed_segment_count(table_dir) == 1
    # a replayed late epoch after compaction is a no-op (_TXNS log)
    sinks.append_snapshot(rollup.event_partials(ev.filter(is_late)), table_dir, txn_key="late")
    assert served() == want_all
    assert sinks.committed_segment_count(table_dir) == 1


def test_scd2_history_sink_exactly_once_and_stream(spark, sf_dir, tmp_path):
    """At-rest SCD2 maintenance (r7): each micro-batch folds into the
    versioned snapshot history via scd2_apply_batch; the folded epoch
    id commits INSIDE the snapshot dir before the pointer flip
    (write_snapshot meta hook), so a replayed epoch — which would
    double-fold and corrupt the history under the fold's in-order
    contract — is a no-op, and a crash between segment write and
    pointer flip leaves an orphan whose marker readers never see.
    Batches arrive in event-time order (the streaming-CDC watermark
    assumption); the final history must equal the full batch
    recompute, through a real AvailableNow stream too."""
    import os
    import shutil

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import windows as W
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import scd2_history_sink

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    args = dict(key="user_id", attr="event_type", ts="ts", tiebreak="event_id")
    cuts = ["2024-01-10", "2024-01-20"]
    slices = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    want = {tuple(r) for r in W.scd2_history(ev, **args).collect()}

    # --- manual epoch folds: seed, then fold epoch 1 ---
    t = str(tmp_path / "hist")
    fold = scd2_history_sink(t, **args)
    fold(slices[0], 0)
    fold(slices[1], 1)
    v1 = int(open(f"{t}/_LATEST").read())

    # crash during epoch 2: snapshot dir written, marker inside it,
    # but the pointer never flipped — the orphan's marker is invisible
    # (snapshot_meta reads at _LATEST), so the re-delivered epoch 2
    # (same id — foreachBatch replays keep their epoch) folds onto the
    # real latest exactly once
    shutil.copytree(f"{t}/v={v1}", f"{t}/v={v1 + 1}")
    with open(f"{t}/v={v1 + 1}/_SCD2_EPOCH", "w") as f:
        f.write("2")
    fold(slices[2], 2)
    assert {tuple(r) for r in sinks.read_snapshot(spark, t).select("user_id", "event_type", "valid_from", "valid_to", "is_current").collect()} == want

    # replayed epoch AFTER a successful commit (at-least-once
    # foreachBatch): must be a no-op — a double-fold would emit
    # overlapping intervals because the fold treats its batch as
    # strictly-newer data
    v_before = int(open(f"{t}/_LATEST").read())
    fold(slices[2], 2)
    assert int(open(f"{t}/_LATEST").read()) == v_before
    assert {tuple(r) for r in sinks.read_snapshot(spark, t).select("user_id", "event_type", "valid_from", "valid_to", "is_current").collect()} == want

    # --- the same maintainer under a real AvailableNow stream ---
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, sl in enumerate(slices):
        part_dir = str(tmp_path / f"part{i}")
        sl.coalesce(1).write.parquet(part_dir)
        part = next(p for p in os.listdir(part_dir) if p.endswith(".parquet"))
        dst = os.path.join(src, f"{i:04d}.parquet")
        shutil.move(os.path.join(part_dir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))  # mtime order = slice order
    t2 = str(tmp_path / "hist2")
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream.writeStream.foreachBatch(scd2_history_sink(t2, **args))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert {tuple(r) for r in sinks.read_snapshot(spark, t2).select("user_id", "event_type", "valid_from", "valid_to", "is_current").collect()} == want


def test_scd2_history_sink_late_events_repair(spark, sf_dir, tmp_path):
    """Out-of-order delivery (VERDICT r7 item 4): the MIDDLE ten days
    arrive in the LAST epoch — genuinely late for every key that
    already folded newer events. With events_dir the sink maintains a
    raw epoch-partitioned log and routes late keys through
    scd2_fold_or_repair (key-scoped recompute from the log); the final
    history equals the full batch recompute. A replayed late epoch is
    still a no-op (the log write is an idempotent partition
    overwrite)."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import windows as W
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import scd2_history_sink

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    args = dict(key="user_id", attr="event_type", ts="ts", tiebreak="event_id")
    cuts = ["2024-01-10", "2024-01-20"]
    slices = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter(F.col("ts") >= cuts[1]),                      # skips the middle
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),  # late
    ]
    want = {tuple(r) for r in W.scd2_history(ev, **args).collect()}
    cols = ["user_id", "event_type", "valid_from", "valid_to", "is_current"]

    t = str(tmp_path / "hist")
    log = str(tmp_path / "rawlog")
    fold = scd2_history_sink(t, events_dir=log, **args)
    for i, sl in enumerate(slices):
        fold(sl, i)
    got = {tuple(r) for r in sinks.read_snapshot(spark, t).select(*cols).collect()}
    assert got == want
    # replayed late epoch: no-op on both the snapshot and the log
    v_before = int(open(f"{t}/_LATEST").read())
    fold(slices[2], 2)
    assert int(open(f"{t}/_LATEST").read()) == v_before
    got = {tuple(r) for r in sinks.read_snapshot(spark, t).select(*cols).collect()}
    assert got == want


def test_cusum_monitor_idle_timeout_keeps_live_alarms(spark, tmp_path):
    """VERDICT r7 item 7: the event-time idle timeout evicts dead
    keys' state without changing alarms for keys that stay live — the
    drifting key alarms identically with and without the knob, and the
    early-only key's state is dropped once the watermark passes its
    horizon (no alarm appears for it either way)."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    # key 'live': drifts above mu0 all day -> alarms
    for i in range(40):
        rows.append((i, base + dt.timedelta(minutes=30 * i), "live", 12.0))
    # key 'dead': two quiet early events, then silence
    rows.append((100, base, "dead", 10.0))
    rows.append((101, base + dt.timedelta(minutes=5), "dead", 10.0))
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    src = tmp_path / "cusum_to_src"
    # two files in event-time order so the stream has multiple batches
    df.filter(F.col("ts") < base + dt.timedelta(hours=10)).coalesce(1).write.parquet(
        str(src / "a")
    )
    df.filter(F.col("ts") >= base + dt.timedelta(hours=10)).coalesce(1).write.parquet(
        str(src / "b")
    )

    def run(qname, timeout_ms):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
            .withWatermark("ts", "1 minute")
        )
        q = (
            pipeline.cusum_monitor(
                stream, mu0=10.0, slack=0.5, threshold=5.0,
                idle_timeout_ms=timeout_ms,
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r["k"], r["alarm_ts"], r["direction"], r["n_seen"])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        )

    with_timeout = run("cusum_to_on", 60 * 60 * 1000)  # 1h idle horizon
    without = run("cusum_to_off", None)
    live_on = [a for a in with_timeout if a[0] == "live"]
    live_off = [a for a in without if a[0] == "live"]
    assert live_on == live_off and len(live_on) > 0
    assert not any(a[0] == "dead" for a in with_timeout + without)


def _run_cusum_stream(spark, src, files_per_trigger, qname):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(str(src))
    )
    q = (
        pipeline.cusum_monitor(stream, mu0=10.0, slack=0.5, threshold=5.0)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sorted(
        spark.sql(f"SELECT * FROM {qname}").collect(),
        key=lambda r: (r["k"], r["n_seen"]),
    )


def test_cusum_monitor_alarms_and_batch_alignment_invariance(spark, tmp_path):
    """A level shift from mu0=10 to 13 must raise an 'up' alarm, and
    the alarm stream must be identical whether the source arrives as
    one micro-batch or one file per batch (state carries the fold
    across batches; per-batch rows fold in (ts, event_id) order)."""
    import datetime as dt

    import pandas as pd

    src = tmp_path / "cusum_src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(20):
        # first 10 at the reference level, then a +3 shift
        val = 10.0 if i < 10 else 13.0
        rows.append((i, t0 + dt.timedelta(minutes=i), "checkout", val))
    # three time-ordered files (the in-order delivery contract);
    # mtimes pin the file-source pickup order
    import os

    for fi, chunk in enumerate([rows[:7], rows[7:14], rows[14:]]):
        pdf = pd.DataFrame(chunk, columns=["event_id", "ts", "event_type", "value"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(src / f"b{fi}.parquet")
    now = os.path.getmtime(src / "b2.parquet")
    for fi in range(3):
        os.utime(src / f"b{fi}.parquet", (now - 60 * (3 - fi), now - 60 * (3 - fi)))

    one_batch = _run_cusum_stream(spark, src, 3, "cusum_one")
    per_file = _run_cusum_stream(spark, src, 1, "cusum_many")

    assert one_batch, "expected at least one alarm"
    assert [tuple(r) for r in one_batch] == [tuple(r) for r in per_file]
    first = one_batch[0]
    # s+ grows by 2.5 per post-shift event: crosses 5.0 on the 3rd
    # shifted event (event index 12, n_seen 13)
    assert first["direction"] == "up" and first["n_seen"] == 13
    assert first["stat"] == 7.5


def test_ivm_join_mv_sink_equals_full_join(spark, sf_dir, tmp_path):
    """Streaming join-MV maintenance (r8): three insert epochs of
    lineitem delta-joined against the stable orders dimension equal
    the full batch join; a replayed epoch is a no-op via the append
    txn log."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import ivm_join_mv_sink

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_shipdate"
    )
    dim = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_orderdate"
    )
    cuts = ["1997-01-01", "1999-01-01"]
    slices = [
        li.filter(F.col("l_shipdate") < cuts[0]),
        li.filter((F.col("l_shipdate") >= cuts[0]) & (F.col("l_shipdate") < cuts[1])),
        li.filter(F.col("l_shipdate") >= cuts[1]),
    ]
    t = str(tmp_path / "mv")
    fold = ivm_join_mv_sink(t, dim, "l_orderkey")
    for i, sl in enumerate(slices):
        fold(sl, i)
    fold(slices[2], 2)  # replayed epoch: must be a no-op
    got = sorted(map(tuple, sinks.read_appended(spark, t).select(
        "l_orderkey", "l_linenumber", "l_partkey", "o_custkey", "o_orderdate"
    ).collect()))
    want = sorted(map(tuple, li.join(dim, "l_orderkey").select(
        "l_orderkey", "l_linenumber", "l_partkey", "o_custkey", "o_orderdate"
    ).collect()))
    assert got == want


def test_cusum_monitor_clamps_timeout_for_very_late_keys(spark, tmp_path):
    """ADVICE r8: (flat)MapGroupsWithState does NOT auto-drop late
    rows, so a key whose newest event is already more than
    idle_timeout behind the watermark computes an eviction horizon <=
    the current watermark — setTimeoutTimestamp would throw
    IllegalArgumentException and kill the whole query. The fix clamps
    the horizon to watermark+1ms: the query completes, the late key's
    state evicts at the next trigger, and live keys alarm exactly as
    before."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    fresh = [(i, base + dt.timedelta(hours=10, minutes=30 * i), "live", 12.0) for i in range(20)]
    # newest event for 'stale' is ~10h behind the watermark batch 1 sets,
    # while idle_timeout is 1 minute -> pre-fix horizon <= watermark
    stale = [(100, base, "stale", 10.0)]
    schema = "event_id long, ts timestamp, event_type string, value double"
    src = tmp_path / "cusum_clamp_src"
    spark.createDataFrame(fresh, schema).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(stale, schema).coalesce(1).write.parquet(str(src / "b"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .withWatermark("ts", "1 minute")
    )
    q = (
        pipeline.cusum_monitor(
            stream, mu0=10.0, slack=0.5, threshold=5.0, idle_timeout_ms=60 * 1000
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cusum_clamp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None  # pre-fix: IllegalArgumentException
    alarms = spark.sql("SELECT * FROM cusum_clamp").collect()
    assert any(r["k"] == "live" for r in alarms)
    assert not any(r["k"] == "stale" for r in alarms)


def test_scd2_sink_refuses_incomplete_event_log(spark, sf_dir, tmp_path):
    """ADVICE r8: enabling events_dir on a table whose history predates
    the raw log must refuse to repair (the log is missing the early
    epochs, so a key-scoped rebuild would silently produce a wrong
    history) — and warn when the table predates the provenance marker
    entirely."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import windows as W
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import scd2_history_sink

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    args = dict(key="user_id", attr="event_type", ts="ts", tiebreak="event_id")
    early = ev.filter(F.col("ts") < "2024-01-10")
    late = ev.filter(F.col("ts") >= "2024-01-10")

    # epoch 0 folded WITHOUT a log, epoch 1 arrives with events_dir on:
    # the log's earliest partition (1) postdates the table's first
    # epoch (0) -> hard refuse
    t = str(tmp_path / "hist_incomplete")
    log = str(tmp_path / "rawlog_incomplete")
    scd2_history_sink(t, **args)(early, 0)
    with _pytest.raises(Exception, match="incomplete"):
        scd2_history_sink(t, events_dir=log, **args)(late, 1)

    # legacy table with no _SCD2_FIRST_EPOCH marker at all -> warn, not die
    t2 = str(tmp_path / "hist_legacy")
    log2 = str(tmp_path / "rawlog_legacy")
    hist0 = W.scd2_history(early, carry_last=True, **args)
    sinks.write_snapshot(hist0, t2, meta={"_SCD2_EPOCH": "0"})
    with _pytest.warns(UserWarning, match="_SCD2_FIRST_EPOCH"):
        scd2_history_sink(t2, events_dir=log2, **args)(late, 1)


def test_scd2_agg_mv_sink_composition_matches_recompute(spark, sf_dir, tmp_path):
    """VERDICT r8 item 5, streaming twin of the scd2_agg_mv registry
    entry: a CDC stream folds into an SCD2 history AND a retractable
    aggregate MV over the open rows, both maintained O(batch) per
    epoch; after all epochs the MV equals grouping the full
    recompute's open rows, and a replayed epoch is a no-op on both
    tables."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import windows as W
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import scd2_agg_mv_sink

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    args = dict(key="user_id", attr="event_type", ts="ts", tiebreak="event_id")
    cuts = ["2024-01-10", "2024-01-20"]
    slices = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    hist_t = str(tmp_path / "hist")
    mv_t = str(tmp_path / "mv")
    fold = scd2_agg_mv_sink(hist_t, mv_t, **args)
    for i, sl in enumerate(slices):
        fold(sl, i)

    full = W.scd2_history(ev, **args)
    want = {
        (r["event_type"], r["n"], r["sum_uid"])
        for r in full.filter(F.col("is_current") == 1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").cast("long").alias("sum_uid"),
        )
        .collect()
    }
    got = {
        (r["event_type"], r["n"], r["sum_uid"])
        for r in sinks.read_snapshot(spark, mv_t).collect()
    }
    assert got == want

    # replayed epoch: no-op on BOTH tables
    hv = int(open(f"{hist_t}/_LATEST").read())
    mvv = int(open(f"{mv_t}/_LATEST").read())
    fold(slices[2], 2)
    assert int(open(f"{hist_t}/_LATEST").read()) == hv
    assert int(open(f"{mv_t}/_LATEST").read()) == mvv

    # crash-between recovery: history folded epoch 3 but the MV write
    # was lost -> replaying the epoch folds ONLY the MV, from the
    # correct before/after history versions
    extra = ev.filter(F.col("ts") >= cuts[1]).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 40 DAYS")
    ).withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
    from z316_sales_data_pipeline_spark.streaming.pipeline import scd2_history_sink

    scd2_history_sink(hist_t, **args)(extra, 3)  # history-only fold
    fold(extra, 3)  # MV catches up
    assert int(open(f"{hist_t}/_LATEST").read()) == hv + 1
    full2 = W.scd2_history(ev.unionByName(extra), **args)
    want2 = {
        (r["event_type"], r["n"], r["sum_uid"])
        for r in full2.filter(F.col("is_current") == 1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").cast("long").alias("sum_uid"),
        )
        .collect()
    }
    got2 = {
        (r["event_type"], r["n"], r["sum_uid"])
        for r in sinks.read_snapshot(spark, mv_t).collect()
    }
    assert got2 == want2


def test_growth_accounting_sink_matches_batch(spark, sf_dir, tmp_path):
    """Incremental growth accounting from a user-grain state snapshot
    == the batch recompute for every folded day (the batch twin's
    final max_day+1 churn row is about the future and appears once a
    later epoch passes it); replayed epochs are no-ops; gap days with
    zero activity still get their churn rows."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import timeseries
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import growth_accounting_sink

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    cuts = ["2024-01-08", "2024-01-17"]
    slices = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    st = str(tmp_path / "ga_state")
    mv = str(tmp_path / "ga_mv")
    fold = growth_accounting_sink(st, mv, "user_id", "ts")
    for i, sl in enumerate(slices):
        fold(sl, i)

    last_day = max(r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect())
    want = {
        tuple(r)
        for r in timeseries.growth_accounting(ev, "user_id", "ts")
        .filter(F.col("day") <= F.lit(last_day))
        .collect()
    }
    got = {tuple(r) for r in sinks.read_appended(spark, mv).collect()}
    assert got == want

    # replayed epoch: strict no-op on BOTH tables
    v = int(open(f"{st}/_LATEST").read())
    rows_before = sinks.read_appended(spark, mv).count()
    fold(slices[2], 2)
    assert sinks.read_appended(spark, mv).count() == rows_before
    assert int(open(f"{st}/_LATEST").read()) == v


def test_token_budget_sink_matches_batch_and_replay_noop(spark, sf_dir, tmp_path):
    """Streaming budgeted selection == the batch twin over everything
    folded so far, after EVERY epoch (the prefix-displacement lemma,
    end to end through the snapshot round-trip); a replayed epoch is a
    strict no-op (folding the same batch twice would double-count)."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import corpus as C
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import token_budget_sink

    docs = load_table(spark, sf_dir, "documents")
    slices = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    st = str(tmp_path / "tbs_state")
    fold = token_budget_sink(st, "text", "doc_id", "source", 3000)
    seen = None
    for i, sl in enumerate(slices):
        fold(sl, i)
        seen = sl if seen is None else seen.unionByName(sl)
        want = sorted(
            map(tuple, C.token_budget_select(seen, "text", "doc_id", "source", 3000).collect())
        )
        got = sorted(map(tuple, sinks.read_snapshot(spark, st).collect()))
        assert got == want, f"epoch {i}"

    # replayed epoch: snapshot version unchanged
    v = int(open(f"{st}/_LATEST").read())
    fold(slices[1], 1)
    assert int(open(f"{st}/_LATEST").read()) == v


def test_ivf_append_sink_matches_batch_and_prunes(spark, sf_dir, tmp_path):
    """Appended segments read back == the batch assignment over every
    folded id; a cell-filtered read shows PartitionFilters on cell
    (the at-rest pruning survives segment appends); replay no-ops."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import ivf_append_sink

    emb = load_table(spark, sf_dir, "embeddings")
    corpus_arm = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    cents = S._centroids(corpus_arm, "embedding", "vec_id", 16)
    idx = str(tmp_path / "ivf_idx")
    fold = ivf_append_sink(idx, "embedding", "vec_id", cents)
    slices = [batch.filter(F.col("vec_id") % 2 == i) for i in range(2)]
    for i, sl in enumerate(slices):
        fold(sl, i)

    got = {
        (r["vec_id"], r["cell"]) for r in sinks.read_appended(spark, idx).collect()
    }
    want = {
        (r["vec_id"], r["cell"])
        for r in S.ivf_append(batch, "embedding", "vec_id", cents).collect()
    }
    assert got == want and got

    pruned = sinks.read_appended(spark, idx).filter(F.col("cell") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:120]

    v = int(open(f"{idx}/_LATEST").read())
    fold(slices[0], 0)  # replay
    assert int(open(f"{idx}/_LATEST").read()) == v


def test_ivf_retrain_sink_closes_loop_model_advances_and_serve_matches_batch(
    spark, sf_dir, tmp_path
):
    """r13 verdict item 7 — the incremental-ANN loop closed in
    streaming: append → decide → retrain → re-audit, end to end. After
    a drift-inducing epoch (a batch concentrated in one cell: the
    exact-integer TVD arm must trip) the at-rest model snapshot
    VERSION ADVANCES, the index is atomically rebuilt under the fresh
    quantizer, and the serve path (ivf_serve_top_k over the at-rest
    model + cell-pruned index) equals similarity.ivf_top_k over all
    folded vectors — the pinned fresh-index law, now through the
    at-rest state. Decision rows land in the audit table; replays are
    strict no-ops; late/reordered ids refuse."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import (
        ivf_retrain_sink,
        ivf_serve_top_k,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.agg(F.max("vec_id")).first()[0]
    e0 = emb.filter(F.col("vec_id") <= n // 2)
    e1 = emb.filter(F.col("vec_id") > n // 2)
    # drift epoch: every vector identical → 100% of the batch lands in
    # ONE cell, so batch-vs-corpus occupancy TVD far exceeds 0.1
    e2 = emb.limit(40).select(
        (F.col("vec_id") + F.lit(int(n) + 1000)).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.0) + F.lit(1.0)).alias(
            "embedding"
        ),
    )
    st = str(tmp_path / "ivr_state")
    fold = ivf_retrain_sink(st, "embedding", "vec_id", n_cells=8, n_probe=8, k=5)

    def model_version() -> int:
        return int(open(f"{st}/model/_LATEST").read())

    def serve_matches_batch(folded) -> None:
        q = [float(x) for x in folded.orderBy("vec_id").first()["embedding"]]
        got = [
            (r["vec_id"], r["cos"])
            for r in ivf_serve_top_k(
                spark, st, "embedding", "vec_id", q, k=5, n_probe=8
            ).collect()
        ]
        want = [
            (r["vec_id"], r["cos"])
            for r in S.ivf_top_k(
                folded, "embedding", "vec_id", q, k=5, n_cells=8, n_probe=8
            ).collect()
        ]
        assert got == want

    fold(e0, 0)
    assert model_version() == 1  # bootstrap
    serve_matches_batch(e0)

    fold(e1, 1)
    seen = e0.unionByName(e1)
    assert sinks.read_appended(spark, f"{st}/audit").count() == 1
    serve_matches_batch(seen)
    v_before = model_version()

    fold(e2, 2)
    seen = seen.unionByName(e2)
    dec = {
        r["epoch"]: r for r in sinks.read_appended(spark, f"{st}/audit").collect()
    }
    assert dec[2]["drift_exceeded"] and dec[2]["retrain"]
    assert model_version() > v_before  # the at-rest model advanced
    serve_matches_batch(seen)  # rebuilt index ≡ batch pipeline

    # replay: strict no-op everywhere
    versions = [
        int(open(f"{d}/_LATEST").read())
        for d in (f"{st}/model", f"{st}/idx", f"{st}/audit")
    ]
    fold(e1, 1)
    assert [
        int(open(f"{d}/_LATEST").read())
        for d in (f"{st}/model", f"{st}/idx", f"{st}/audit")
    ] == versions

    # late/reordered ids under a NEW epoch: refuse
    with _pytest.raises(ValueError, match="late/reordered"):
        fold(e0, 9)


def test_contamination_gate_sink_split_and_replay(spark, sf_dir, tmp_path):
    """The gate's accept/quarantine split equals the exact-join batch
    predicate (bloom pruning changes nothing — no false negatives,
    false positives die in the exact join); accepted ∪ quarantined ==
    input with no loss; replayed epochs are strict no-ops on both
    tables; shingle-less docs are accepted with zero stats."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.functions.text import shingles
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import contamination_gate_sink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # eval set: shingles of the src-0-style holdout (doc_id % 17 == 0)
    ev = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.explode(F.array_distinct(shingles("text", 3))).alias("s")
    )
    incoming = docs.filter(F.col("doc_id") % 17 != 0).unionByName(
        spark.createDataFrame([(999_999, "too short")], "doc_id long, text string")
    )
    acc = str(tmp_path / "gate_acc")
    qua = str(tmp_path / "gate_qua")
    gate = contamination_gate_sink(ev, acc, qua, "text", "doc_id", 3, max_hit_micro=0)
    slices = [incoming.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    for i, sl in enumerate(slices):
        gate(sl, i)

    got_acc = {r["doc_id"] for r in sinks.read_appended(spark, acc).collect()}
    got_qua = {r["doc_id"] for r in sinks.read_appended(spark, qua).collect()}
    all_ids = {r["doc_id"] for r in incoming.collect()}
    assert got_acc | got_qua == all_ids and not (got_acc & got_qua)

    # batch predicate: any distinct shingle present in the eval set
    sh = incoming.select(
        "doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("s")
    )
    dirty = {
        r["doc_id"]
        for r in sh.join(ev.distinct(), "s", "left_semi").select("doc_id").distinct().collect()
    }
    assert got_qua == dirty
    assert 999_999 in got_acc  # shingle-less doc accepted

    # replay: both tables keep their version pointers
    va, vq = int(open(f"{acc}/_LATEST").read()), int(open(f"{qua}/_LATEST").read())
    gate(slices[0], 0)
    assert int(open(f"{acc}/_LATEST").read()) == va
    assert int(open(f"{qua}/_LATEST").read()) == vq


def test_semantic_gate_sink_matches_batch_twin_replay_noop_and_refusal(
    spark, sf_dir, tmp_path
):
    """The streaming SemDeDup door (r13 verdict item 5): after EVERY
    epoch of monotone-id batches, the accepted/quarantined split
    equals the batch twin — dedup.semantic_dedup over all vectors
    folded so far, assigned by the SAME frozen centroid model — the
    any-lower-id-in-cluster law holds end to end through the appended
    assignment segments (pruning runs against the FULL at-rest
    assignment, kept and quarantined alike, which is exactly what
    makes the non-transitive batch rule reproduce). A replayed epoch
    is a strict no-op on all three tables; a NEW epoch carrying ids
    at-or-below the folded maximum refuses."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.operators import similarity as S
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import semantic_gate_sink

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    )
    # frozen cluster model from the pre-stream corpus arm — the sink's
    # contract (a shifting quantizer would scatter clusters)
    corpus_arm = emb.filter(F.col("vec_id") % 5 != 0)
    assign = S.kmeans_assign(corpus_arm, "embedding", "vec_id", "label", n_iters=1)
    cents = S.centroid_table(assign, corpus_arm, "embedding", "vec_id")

    n = emb.agg(F.max("vec_id")).first()[0]
    cuts = [(None, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, None)]
    slices = [
        emb.filter(
            (F.lit(True) if lo is None else (F.col("vec_id") >= lo))
            & (F.lit(True) if hi is None else (F.col("vec_id") < hi))
        )
        for lo, hi in cuts
    ]
    st = str(tmp_path / "smg_state")
    acc = str(tmp_path / "smg_acc")
    qua = str(tmp_path / "smg_qua")
    fold = semantic_gate_sink(st, acc, qua, "embedding", "vec_id", cents)
    seen = None
    for i, sl in enumerate(slices):
        fold(sl, i)
        seen = sl if seen is None else seen.unionByName(sl)
        twin_assign = S.nearest_centroid_assign(seen, "embedding", "vec_id", cents)
        clustered = seen.select("vec_id", "embedding").join(twin_assign, "vec_id")
        twin = {
            r["vec_id"]: r["keep"]
            for r in D.semantic_dedup(
                clustered, "embedding", "vec_id", "cluster", threshold=0.3
            ).collect()
        }
        got_acc = {r["vec_id"] for r in sinks.read_appended(spark, acc).collect()}
        got_qua = {r["vec_id"] for r in sinks.read_appended(spark, qua).collect()}
        assert got_acc == {v for v, k in twin.items() if k}, f"epoch {i} accepted"
        assert got_qua == {v for v, k in twin.items() if not k}, f"epoch {i} quarantined"
        assert got_acc.isdisjoint(got_qua)

    # replay: strict no-op on every table
    versions = [
        int(open(f"{d}/_LATEST").read()) for d in (f"{st}/asg", acc, qua)
    ]
    fold(slices[1], 1)
    assert [
        int(open(f"{d}/_LATEST").read()) for d in (f"{st}/asg", acc, qua)
    ] == versions

    # late/reordered ids under a NEW epoch: refuse, tables untouched
    with _pytest.raises(ValueError, match="late/reordered"):
        fold(slices[0], 9)
    assert [
        int(open(f"{d}/_LATEST").read()) for d in (f"{st}/asg", acc, qua)
    ] == versions


def test_minhash_gate_sink_crash_between_appends_heals_on_replay(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Fault injection into the documented crash window: the epoch's
    ex/idx segments commit, then the sink dies before the label
    appends and the markers. The replay must (a) not trip the
    late-data refusal (markers are old), (b) not pair the batch
    against its own crashed segments (the id < min(batch) prior-read
    range filter), and (c) converge to exactly the labels a clean run
    produces — committed segments no-op through their txn keys."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    sl0 = docs.filter(F.col("doc_id") < 167)
    sl1 = docs.filter((F.col("doc_id") >= 167) & (F.col("doc_id") < 334))
    st = str(tmp_path / "mhgc_state")
    acc = str(tmp_path / "mhgc_acc")
    qua = str(tmp_path / "mhgc_qua")
    fold = P.minhash_gate_sink(st, acc, qua, "text", "doc_id")
    fold(sl0, 0)

    calls = {"n": 0}
    orig = sinks.append_snapshot

    def crash_after_idx(df, table_dir, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 3:  # ex ✓, idx ✓, then die before the labels
            raise RuntimeError("injected crash")
        return orig(df, table_dir, *a, **kw)

    monkeypatch.setattr(sinks, "append_snapshot", crash_after_idx)
    with _pytest.raises(RuntimeError, match="injected crash"):
        fold(sl1, 1)
    monkeypatch.setattr(sinks, "append_snapshot", orig)
    # epoch marker not written → the replay refolds; ex/idx no-op via txn
    fold(sl1, 1)

    seen = sl0.unionByName(sl1)
    twin = {
        r["doc_id"]: r["keep"]
        for r in D.minhash_dedup_gate(seen, "text", "doc_id").collect()
    }
    got_acc = {r["doc_id"] for r in sinks.read_appended(spark, acc).collect()}
    got_qua = {r["doc_id"] for r in sinks.read_appended(spark, qua).collect()}
    assert got_acc == {d for d, k in twin.items() if k}
    assert got_qua == {d for d, k in twin.items() if not k}
    # and the ex table holds each doc's shingles exactly once
    ex = sinks.read_appended(spark, f"{st}/ex")
    assert ex.count() == ex.dropDuplicates(["doc_id", "__h"]).count()


_GATES_ON_DOCUMENTS = ("minhash_gate_sink", "suffix_span_sink", "curation_gate_sink")


def _gate_on_documents(spark, sf_dir, tmp_path, sink):
    """``(fold, marker path, [sl0, sl1], eval_docs, state_dir, out dirs)``
    for one monotone-id gate over ``documents`` (doc_id, text, lang,
    source); ``out dirs`` is (accepted, quarantined), or (spans,) for
    the suffix mask. Curation streams only the train docs: the eval
    source is its frozen eval set."""
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    eval_docs = docs.filter(F.col("source") == "src0")
    if sink == "curation_gate_sink":
        docs = docs.filter(F.col("source") != "src0")
    slices = [
        docs.filter(F.col("doc_id") < 167),
        docs.filter((F.col("doc_id") >= 167) & (F.col("doc_id") < 334)),
    ]
    st = str(tmp_path / f"{sink}_state")
    acc = str(tmp_path / f"{sink}_acc")
    qua = str(tmp_path / f"{sink}_qua")
    if sink == "minhash_gate_sink":
        fold = P.minhash_gate_sink(st, acc, qua, "text", "doc_id")
        return fold, f"{st}/_MHG_COMMIT", slices, eval_docs, st, (acc, qua)
    if sink == "suffix_span_sink":
        fold = P.suffix_span_sink(st, acc, "text", "doc_id")
        return fold, f"{st}/_SSS_COMMIT", slices, eval_docs, st, (acc,)
    fold = P.curation_gate_sink(
        st, acc, qua, "text", "doc_id", "lang", "source", eval_docs
    )
    return fold, f"{st}/_CGS_COMMIT", slices, eval_docs, st, (acc, qua)


@pytest.mark.parametrize("sink", _GATES_ON_DOCUMENTS)
def test_gate_sink_commit_marker_atomic_crash_at_commit(
    spark, sf_dir, tmp_path, monkeypatch, sink
):
    """ADVICE r13 (medium): the epoch marker and the folded-maximum id
    commit in ONE atomic write. Fault-inject a crash exactly at the
    commit point, after every append succeeded: the replay must refold
    WITHOUT tripping the late/reordered-id refusal against the crashed
    epoch's own ids (the old two-file form wedged the stream here —
    maxid had advanced to the crashed epoch's maximum while the epoch
    marker still named the previous epoch), no-op through the
    committed segments, and land the marker with both values advanced
    together. Run for three gates on ``documents``: each then still
    equals its batch twin."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.plans import corpus_pipeline
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    fold, marker, (sl0, sl1), eval_docs, st, outs = _gate_on_documents(
        spark, sf_dir, tmp_path, sink
    )
    fold(sl0, 0)
    marker0 = P._read_commit(marker)
    assert marker0 is not None and marker0[0] == 0

    orig = P._write_commit

    def crash_at_commit(path, epoch, max_id):
        raise RuntimeError("injected crash at commit")

    monkeypatch.setattr(P, "_write_commit", crash_at_commit)
    with _pytest.raises(RuntimeError, match="injected crash at commit"):
        fold(sl1, 1)
    monkeypatch.setattr(P, "_write_commit", orig)
    # the pair is intact: still epoch 0 with epoch 0's own maximum —
    # the late-data cursor cannot have outrun the epoch marker
    assert P._read_commit(marker) == marker0

    fold(sl1, 1)  # replay: must NOT raise the late/reordered refusal
    hi1 = sl1.agg(F.max("doc_id")).first()[0]
    assert P._read_commit(marker) == (1, int(hi1))

    seen = sl0.unionByName(sl1)
    if sink == "minhash_gate_sink":
        acc, qua = outs
        twin = {
            r["doc_id"]: r["keep"]
            for r in D.minhash_dedup_gate(seen, "text", "doc_id").collect()
        }
        got_acc = {r["doc_id"] for r in sinks.read_appended(spark, acc).collect()}
        got_qua = {r["doc_id"] for r in sinks.read_appended(spark, qua).collect()}
        assert got_acc == {d for d, k in twin.items() if k}
        assert got_qua == {d for d, k in twin.items() if not k}
    elif sink == "suffix_span_sink":
        # the as-of-epoch law for the replayed epoch's own ids
        (spans,) = outs
        epoch1 = F.col("doc_id") >= 167
        want = D.suffix_dedup_spans(seen, "text", "doc_id").filter(epoch1)
        got = sinks.read_appended(spark, spans).filter(epoch1)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    else:
        twin_lab = corpus_pipeline.curation_levels(
            seen.unionByName(eval_docs), "text", "doc_id", "lang", "source"
        ).filter(F.col("source") != "src0")
        want = corpus_pipeline._funnel_rows(twin_lab, 262139)
        got = P.curation_gate_funnel(spark, st)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@pytest.mark.parametrize("sink", _GATES_ON_DOCUMENTS)
def test_gate_sinks_refuse_null_ids(spark, sf_dir, tmp_path, sink):
    """A null id cannot be ordered against the folded ids, so a
    monotone-id gate refuses the whole batch before writing anything.
    (a) An all-null first epoch leaves no committed segment and no
    marker (unrefused, every table committed a segment and the marker
    write then failed on the null maximum, so each replay re-raised and
    the stream was wedged). (b) A null-id exact copy of an earlier doc
    is refused (unrefused, it landed in accepted, and no later
    ``id < min(batch)`` read would ever compare against it)."""
    import os

    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    fold, marker, (sl0, sl1), _, st, outs = _gate_on_documents(
        spark, sf_dir, tmp_path, sink
    )
    null_id = F.lit(None).cast("long")

    def committed():
        """Each table dir under the gate's roots -> its _LATEST version."""
        return {
            d: open(os.path.join(d, "_LATEST")).read()
            for root in (st, *outs)
            for d, _, files in os.walk(root)
            if "_LATEST" in files
        }

    with pytest.raises(ValueError, match=f"{sink}.*null"):
        fold(sl0.withColumn("doc_id", null_id), 0)
    assert committed() == {}
    assert P._read_commit(marker) is None

    fold(sl0, 0)
    marker0, versions = P._read_commit(marker), committed()
    copy = sl0.orderBy("doc_id").limit(1).withColumn("doc_id", null_id)
    with pytest.raises(ValueError, match=f"{sink}.*null"):
        fold(sl1.unionByName(copy), 1)
    assert P._read_commit(marker) == marker0
    assert committed() == versions


def test_gate_sinks_compact_segment_state_and_survive_compaction_crashes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r13 verdict item 2: the at-the-door sinks bound their committed
    segment count through sinks.maybe_compact — over a production day
    of micro-batches the O(epochs) listing/footer overhead is what
    six-epoch receipts cannot see. With max_segments=2 and six
    monotone-id epochs every gate table must stay at ≤ 3 committed
    segments while the accept/quarantine split STILL equals the batch
    twin (compaction folds rows, never changes them; the id <
    min(batch) prior-read range filter survives as a row filter).
    Then fault-inject BOTH compaction crash windows and require
    convergence: (a) post-pointer-flip (old-dir cleanup dies → folded
    originals linger and readers must skip them via
    _COMPACTED_THROUGH, serving every row exactly once); (b)
    pre-pointer-flip (the _TXNS write dies → the new segment is an
    orphan above _LATEST that no reader sees and the next epoch's
    append sweeps). Both crashes happen AFTER the epoch's commit
    marker — the epoch itself is never lost, maintenance converges."""
    import shutil as _shutil

    import pytest as _pytest

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    step = (n + 5) // 6
    slices = [
        docs.filter((F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step))
        for i in range(6)
    ]
    st = str(tmp_path / "mhgcp_state")
    acc = str(tmp_path / "mhgcp_acc")
    qua = str(tmp_path / "mhgcp_qua")
    # max_segments=1: every epoch past the first folds every table, so
    # the injections below hit deterministically
    fold = P.minhash_gate_sink(st, acc, qua, "text", "doc_id", max_segments=1)

    def check_twin(through: int) -> None:
        seen = slices[0]
        for sl in slices[1:through + 1]:
            seen = seen.unionByName(sl)
        twin = {
            r["doc_id"]: r["keep"]
            for r in D.minhash_dedup_gate(seen, "text", "doc_id").collect()
        }
        got_acc = {r["doc_id"] for r in sinks.read_appended(spark, acc).collect()}
        got_qua = {r["doc_id"] for r in sinks.read_appended(spark, qua).collect()}
        assert got_acc == {d for d, k in twin.items() if k}
        assert got_qua == {d for d, k in twin.items() if not k}

    fold(slices[0], 0)
    fold(slices[1], 1)
    fold(slices[2], 2)
    for d in (f"{st}/ex", f"{st}/idx", acc, qua):
        assert sinks.committed_segment_count(d) <= 2, d
    check_twin(2)

    # (a) crash AFTER the pointer flip: old-dir cleanup dies (state is
    # clean — no orphans — so the first rmtree in this fold IS the
    # post-flip cleanup inside compact_appended). Folded originals
    # linger on disk; _COMPACTED_THROUGH must keep every read
    # single-serve until a later fold sweeps them.
    orig_rmtree = _shutil.rmtree
    calls = {"n": 0}

    def crash_rmtree(path, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash post-flip")
        return orig_rmtree(path, *a, **kw)

    monkeypatch.setattr(_shutil, "rmtree", crash_rmtree)
    with _pytest.raises(RuntimeError, match="injected crash post-flip"):
        fold(slices[3], 3)
    monkeypatch.setattr(_shutil, "rmtree", orig_rmtree)
    fold(slices[3], 3)  # epoch already committed: replay is a no-op
    check_twin(3)

    # (b) crash BEFORE the pointer flip: the _TXNS record write dies.
    # The half-built compacted segment sits above _LATEST — an orphan
    # no reader ever sees; the next epoch's append sweeps it.
    orig_record = sinks._record_txns
    calls["n"] = 0

    def crash_record(table_dir, keys):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash pre-flip")
        return orig_record(table_dir, keys)

    monkeypatch.setattr(sinks, "_record_txns", crash_record)
    with _pytest.raises(RuntimeError, match="injected crash pre-flip"):
        fold(slices[4], 4)
    monkeypatch.setattr(sinks, "_record_txns", orig_record)
    fold(slices[4], 4)  # replay: strict no-op (marker committed)
    check_twin(4)

    fold(slices[5], 5)  # sweeps the orphan, maintenance converges
    check_twin(5)
    for d in (f"{st}/ex", f"{st}/idx", acc, qua):
        assert sinks.committed_segment_count(d) <= 2, d


def test_token_budget_sink_cutoff_tightens_on_displacement(spark, tmp_path):
    """Constructed multi-epoch displacement: a high-quality later doc
    pushes a previously-SELECTED doc over budget, so the at-rest
    cutoff must TIGHTEN (move up in rank) — the inductive step of the
    cutoff-carrying fold. Epoch 0: d1(60tok q2) selected, d2(50tok q2)
    rejected → cutoff (2, id2). Epoch 1: d3(50tok q3) displaces d1 →
    selection {d3}, cutoff tightens to (2, id1). Epoch 2: d4(q2,10tok)
    must be gated by the TIGHTENED cutoff (a stale cutoff would admit
    it at cum 60+10... i.e. the old boundary), d5(q3,40tok) folds in.
    Every epoch's snapshot equals the batch twin over all docs so
    far."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import corpus as C
    from z316_sales_data_pipeline_spark.streaming.pipeline import token_budget_sink

    q2 = lambda n: " ".join("zz!!" for _ in range(n))  # punct ratio 0.4 → q2
    q3 = lambda n: " ".join(f"word{i:02d}" for i in range(n))
    rows = {
        0: [(1, "s", q2(60)), (2, "s", q2(50))],
        1: [(3, "s", q3(50))],
        2: [(4, "s", q2(10)), (5, "s", q3(40))],
    }
    st = str(tmp_path / "tbs2")
    fold = token_budget_sink(st, "text", "doc_id", "source", 100)
    seen = None
    for ep in range(3):
        sl = spark.createDataFrame(rows[ep], "doc_id long, source string, text string")
        fold(sl, ep)
        seen = sl if seen is None else seen.unionByName(sl)
        want = sorted(
            map(tuple, C.token_budget_select(seen, "text", "doc_id", "source", 100).collect())
        )
        got = sorted(map(tuple, sinks.read_snapshot(spark, st).collect()))
        assert got == want, f"epoch {ep}: {got} != {want}"
        want_cut = sorted(
            map(tuple, C.token_budget_cutoff(seen, "text", "doc_id", "source", 100).collect())
        )
        got_cut = sorted(
            map(tuple, sinks.read_snapshot(spark, f"{st}_cutoff").collect())
        )
        assert got_cut == want_cut, f"epoch {ep} cutoff: {got_cut} != {want_cut}"
    # the endgame state: d3+d5 selected, boundary at (q2, id1)
    assert [r[0] for r in sorted(got)] == ["s", "s"]
    assert sorted(r[1] for r in got) == [3, 5]
    assert got_cut == [("s", 2, 1)]


def test_minhash_gate_sink_matches_batch_twin_replay_noop_and_refusal(
    spark, sf_dir, tmp_path
):
    """The streaming near-dup door: after EVERY epoch of monotone-id
    batches, the accepted/quarantined split equals the batch twin
    (dedup.minhash_dedup_gate) over all docs folded so far — the
    keep-first-by-id law holds end to end through the appended ex/idx
    segments. A replayed epoch is a strict no-op on all four tables;
    a NEW epoch carrying ids at-or-below the folded maximum is
    late/reordered data and refuses."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import minhash_gate_sink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    cuts = [(None, 167), (167, 334), (334, None)]
    slices = [
        docs.filter(
            (F.lit(True) if lo is None else (F.col("doc_id") >= lo))
            & (F.lit(True) if hi is None else (F.col("doc_id") < hi))
        )
        for lo, hi in cuts
    ]
    st = str(tmp_path / "mhg_state")
    acc = str(tmp_path / "mhg_accepted")
    qua = str(tmp_path / "mhg_quarantined")
    fold = minhash_gate_sink(st, acc, qua, "text", "doc_id")
    seen = None
    for i, sl in enumerate(slices):
        fold(sl, i)
        seen = sl if seen is None else seen.unionByName(sl)
        twin = {
            r["doc_id"]: r["keep"]
            for r in D.minhash_dedup_gate(seen, "text", "doc_id").collect()
        }
        got_acc = {r["doc_id"] for r in sinks.read_appended(spark, acc).collect()}
        got_qua = {r["doc_id"] for r in sinks.read_appended(spark, qua).collect()}
        assert got_acc == {d for d, k in twin.items() if k}, f"epoch {i} accepted"
        assert got_qua == {d for d, k in twin.items() if not k}, f"epoch {i} quarantined"
        assert got_acc.isdisjoint(got_qua)

    # replay: strict no-op on every table
    versions = [
        int(open(f"{d}/_LATEST").read()) for d in (f"{st}/ex", f"{st}/idx", acc, qua)
    ]
    fold(slices[1], 1)
    assert [
        int(open(f"{d}/_LATEST").read()) for d in (f"{st}/ex", f"{st}/idx", acc, qua)
    ] == versions

    # late/reordered ids under a NEW epoch: refuse, tables untouched
    with _pytest.raises(ValueError, match="late/reordered"):
        fold(slices[0], 9)
    assert [
        int(open(f"{d}/_LATEST").read()) for d in (f"{st}/ex", f"{st}/idx", acc, qua)
    ] == versions


def test_suffix_span_sink_as_of_epoch_law_replay_noop_and_refusal(
    spark, sf_dir, tmp_path
):
    """The streaming removal-mask maintainer: after every epoch of
    monotone-id batches, the spans appended FOR THAT EPOCH'S ids equal
    the full-union batch twin (dedup.suffix_dedup_spans over all docs
    folded so far) restricted to those ids — the as-of-epoch law. A
    replayed epoch is a strict no-op on both tables; late/reordered
    ids refuse."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import dedup as D
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import suffix_span_sink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cuts = [(None, 167), (167, 334), (334, None)]
    slices = [
        docs.filter(
            (F.lit(True) if lo is None else (F.col("doc_id") >= lo))
            & (F.lit(True) if hi is None else (F.col("doc_id") < hi))
        )
        for lo, hi in cuts
    ]
    st = str(tmp_path / "sss_state")
    sp = str(tmp_path / "sss_spans")
    fold = suffix_span_sink(st, sp, "text", "doc_id")
    seen = None
    for i, (sl, (lo, hi)) in enumerate(zip(slices, cuts)):
        fold(sl, i)
        seen = sl if seen is None else seen.unionByName(sl)
        epoch_pred = (
            F.lit(True) if lo is None else (F.col("doc_id") >= lo)
        ) & (F.lit(True) if hi is None else (F.col("doc_id") < hi))
        want = sorted(
            map(
                tuple,
                D.suffix_dedup_spans(seen, "text", "doc_id")
                .filter(epoch_pred)
                .collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                sinks.read_appended(spark, sp).filter(epoch_pred).collect(),
            )
        )
        assert got == want, f"epoch {i}"

    # replay: strict no-op on both tables
    versions = [int(open(f"{d}/_LATEST").read()) for d in (f"{st}/win", sp)]
    fold(slices[1], 1)
    assert [int(open(f"{d}/_LATEST").read()) for d in (f"{st}/win", sp)] == versions

    # late/reordered ids under a NEW epoch: refuse, tables untouched
    with _pytest.raises(ValueError, match="late/reordered"):
        fold(slices[0], 9)
    assert [int(open(f"{d}/_LATEST").read()) for d in (f"{st}/win", sp)] == versions


def test_quantile_sketch_sink_matches_batch_and_replay_noop(spark, sf_dir, tmp_path):
    """Streaming histogram state == the batch sketch over everything
    folded (counter addition is associative/commutative), and the MV
    == histogram_quantiles over the union, after EVERY epoch; a
    replayed epoch is a strict no-op on both tables."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import sketch as SK
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import quantile_sketch_sink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    slices = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    st = str(tmp_path / "qs_state")
    mv = str(tmp_path / "qs_mv")
    fold = quantile_sketch_sink(st, mv, "value", "event_type", 0.0, 200.0, 64, (0.5, 0.9))
    seen = None
    for i, sl in enumerate(slices):
        fold(sl, i)
        seen = sl if seen is None else seen.unionByName(sl)
        want_state = sorted(
            (r["part"], r["bucket"], r["c"])
            for r in SK.histogram_table(
                seen, "value", F.col("event_type").cast("string"), 0.0, 200.0, 64
            ).collect()
        )
        got_state = sorted(
            (r["part"], r["bucket"], r["c"]) for r in sinks.read_snapshot(spark, st).collect()
        )
        assert got_state == want_state, f"epoch {i}"
    want_mv = sorted(
        map(
            tuple,
            SK.histogram_quantiles(
                SK.histogram_table(seen, "value", F.col("event_type"), 0.0, 200.0, 64),
                [0.5, 0.9],
                0.0,
                200.0,
                64,
            ).collect(),
        )
    )
    got_mv = sorted(map(tuple, sinks.read_snapshot(spark, mv).collect()))
    assert got_mv == want_mv

    v = int(open(f"{st}/_LATEST").read())
    fold(slices[0], 0)  # replay
    assert int(open(f"{st}/_LATEST").read()) == v
    # state untouched, but the MV IS rewritten from current state on
    # replay — the ab_readout_sink healing pattern (r12 advice: a crash
    # between the state write and the MV write must not strand the MV)
    assert sorted(map(tuple, sinks.read_snapshot(spark, mv).collect())) == want_mv


def test_quantile_sketch_sink_replay_heals_lost_mv(spark, sf_dir, tmp_path):
    """Crash between the state write (which commits _QS_EPOCH) and the
    MV write: on replay of the same epoch the sink must skip the fold
    but still rebuild the MV from the committed state (r12 advice —
    the early-return form left the MV stale or missing forever)."""
    import shutil

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import sketch as SK
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming.pipeline import quantile_sketch_sink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    st = str(tmp_path / "qs_state")
    mv = str(tmp_path / "qs_mv")
    fold = quantile_sketch_sink(st, mv, "value", "event_type", 0.0, 200.0, 64, (0.5, 0.9))
    fold(ev, 0)
    shutil.rmtree(mv)  # simulate the crash: state+marker landed, MV lost
    v_state = int(open(f"{st}/_LATEST").read())
    fold(ev, 0)  # replay of the committed epoch
    assert int(open(f"{st}/_LATEST").read()) == v_state  # fold skipped
    want_mv = sorted(
        map(
            tuple,
            SK.histogram_quantiles(
                sinks.read_snapshot(spark, st), [0.5, 0.9], 0.0, 200.0, 64
            ).collect(),
        )
    )
    assert sorted(map(tuple, sinks.read_snapshot(spark, mv).collect())) == want_mv


def test_growth_accounting_sink_refuses_late_rows_in_new_epoch(spark, tmp_path):
    """ADVICE r9: a NEW epoch (epoch_id above the state's _GA_EPOCH
    marker) carrying rows for days at-or-below _GA_DAY is LATE DATA,
    not a replay — the sink must refuse (ValueError) instead of
    silently skipping the rows and diverging from the batch twin.
    Replays of an already-folded epoch stay strict no-ops."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.streaming.pipeline import growth_accounting_sink

    st = str(tmp_path / "ga_state")
    mv = str(tmp_path / "ga_mv")
    fold = growth_accounting_sink(st, mv, "user_id", "ts")
    day1 = spark.createDataFrame(
        [(1, "2024-01-01 08:00:00"), (2, "2024-01-01 09:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    day2 = spark.createDataFrame(
        [(1, "2024-01-02 08:00:00")], "user_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    fold(day1, 0)
    fold(day2, 1)
    assert sinks.snapshot_meta(st, "_GA_EPOCH") == "1"
    assert sinks.snapshot_meta(st, "_GA_DAY") == "2024-01-02"

    # replay of epoch 1 (same days): strict no-op, NO error
    v = int(open(f"{st}/_LATEST").read())
    fold(day2, 1)
    assert int(open(f"{st}/_LATEST").read()) == v

    # NEW epoch 2 carrying a day-1 row: late data -> refusal, and
    # neither table moved
    late = spark.createDataFrame(
        [(3, "2024-01-01 23:00:00"), (4, "2024-01-03 10:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows_before = sinks.read_appended(spark, mv).count()
    with _pytest.raises(ValueError, match="late data"):
        fold(late, 2)
    assert int(open(f"{st}/_LATEST").read()) == v
    assert sinks.read_appended(spark, mv).count() == rows_before

    # the refusal's prescribed watermark filter makes the epoch foldable
    ontime = late.filter(F.to_date("ts") > F.lit("2024-01-02").cast("date"))
    fold(ontime, 2)
    assert sinks.snapshot_meta(st, "_GA_EPOCH") == "2"
    assert sinks.snapshot_meta(st, "_GA_DAY") == "2024-01-03"


def test_scd2_agg_mv_sink_bootstraps_on_preexisting_history(spark, tmp_path):
    """ADVICE r9: attaching the MV sink to a PRE-EXISTING history with
    no MV snapshot must bootstrap from a full aggregation of the
    current open rows (the old code raised in read_snapshot), and a
    history that ran AHEAD of the MV by more than one epoch must fold
    the whole gap (v_before = the version matching _MV_EPOCH, not
    merely the first version older than the current epoch)."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import windows as W
    from z316_sales_data_pipeline_spark.streaming.pipeline import (
        scd2_agg_mv_sink,
        scd2_history_sink,
    )

    args = dict(key="k", attr="g", ts="ts", tiebreak="tb")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, g string, ts string, tb long"
        ).withColumn("ts", F.to_timestamp("ts"))

    b0 = batch([(1, "a", "2024-01-01 00:00:00", 1), (2, "a", "2024-01-01 00:00:00", 2)])
    b1 = batch([(2, "b", "2024-01-02 00:00:00", 3), (3, "c", "2024-01-02 00:00:00", 4)])
    b2 = batch([(1, "b", "2024-01-03 00:00:00", 5)])
    b3 = batch([(3, "a", "2024-01-04 00:00:00", 6), (4, "a", "2024-01-04 00:00:00", 7)])
    b4 = batch([(4, "b", "2024-01-05 00:00:00", 8)])

    hist_t = str(tmp_path / "hist")
    mv_t = str(tmp_path / "mv")
    hist_only = scd2_history_sink(hist_t, **args)
    hist_only(b0, 0)
    hist_only(b1, 1)  # pre-existing two-epoch history, NO MV yet

    def mv_set():
        return {
            (r["g"], r["n"], r["sum_uid"])
            for r in sinks.read_snapshot(spark, mv_t).collect()
        }

    def want_set(*batches):
        ev = batches[0]
        for b in batches[1:]:
            ev = ev.unionByName(b)
        return {
            (r["g"], r["n"], r["sum_uid"])
            for r in W.scd2_history(ev, **args)
            .filter(F.col("is_current") == 1)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("k").cast("long").alias("sum_uid"))
            .collect()
        }

    fold = scd2_agg_mv_sink(hist_t, mv_t, **args)
    fold(b2, 2)  # attach: must bootstrap, not raise
    assert mv_set() == want_set(b0, b1, b2)
    assert sinks.snapshot_meta(mv_t, "_MV_EPOCH") == "2"

    # history runs ahead by TWO epochs externally, then the MV sink
    # sees only epoch 4 — the fold must net epochs 3 AND 4
    hist_only(b3, 3)
    fold(b4, 4)
    assert mv_set() == want_set(b0, b1, b2, b3, b4)
    assert sinks.snapshot_meta(mv_t, "_MV_EPOCH") == "4"


def test_ab_readout_sink_matches_batch_twin(spark, tmp_path):
    """Streaming A/B readout (r10): unit-grain upserts folded across
    epochs produce EXACTLY the batch ab_readout over the final unit
    table; late/duplicate upserts are absorbed (last wins); replays
    are no-ops on the state; a lost MV write heals on replay because
    the MV is a pure function of current state."""
    import os

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import experiment
    from z316_sales_data_pipeline_spark.streaming.pipeline import ab_readout_sink

    st = str(tmp_path / "abr_state")
    mv = str(tmp_path / "abr_mv")
    fold = ab_readout_sink(st, mv, "uid", "x", "y")

    def batch(rows):
        return spark.createDataFrame(rows, "uid long, x long, y long")

    # epoch 0: initial units; epoch 1: new units + an UPDATE of uid 1
    # (late revenue) + an exact duplicate of uid 2 (absorbed)
    fold(batch([(1, 10, 20), (2, 5, 9), (3, 7, 7)]), 0)
    fold(batch([(4, 3, 30), (1, 12, 26), (2, 5, 9)]), 1)

    final_units = batch([(1, 12, 26), (2, 5, 9), (3, 7, 7), (4, 3, 30)])
    want = {
        tuple(r)
        for r in experiment.ab_readout(final_units, F.col("x"), F.col("y"), "uid").collect()
    }
    got = {tuple(r) for r in sinks.read_snapshot(spark, mv).collect()}
    assert got == want
    assert sinks.snapshot_meta(st, "_ABR_EPOCH") == "1"

    # replay epoch 1: state version unchanged, MV still equal
    sv = int(open(f"{st}/_LATEST").read())
    fold(batch([(4, 3, 30), (1, 12, 26), (2, 5, 9)]), 1)
    assert int(open(f"{st}/_LATEST").read()) == sv
    assert {tuple(r) for r in sinks.read_snapshot(spark, mv).collect()} == want

    # crash heal: wipe the MV table entirely, replay the epoch — the
    # state no-ops but the derived MV is rebuilt
    import shutil

    shutil.rmtree(mv)
    fold(batch([(4, 3, 30), (1, 12, 26), (2, 5, 9)]), 1)
    assert int(open(f"{st}/_LATEST").read()) == sv
    assert {tuple(r) for r in sinks.read_snapshot(spark, mv).collect()} == want
    assert os.path.isdir(st)


def test_heavy_hitters_monitor_spacesaving_invariants(spark, tmp_path):
    """SpaceSaving LAWS across micro-batches (r10): after the full
    stream, for every tracked item count_est >= true >= count_est -
    err; every item with true count > N/k is tracked; n_total equals
    the exact stream length; at most k counters per key."""
    import pandas as pd

    k = 4
    src = tmp_path / "hh_src"
    src.mkdir()
    # skewed item stream over 2 partition keys, 3 micro-batches
    batches = [
        ["a"] * 10 + ["b"] * 6 + ["c"] * 2 + ["d", "e"],
        ["a"] * 5 + ["c"] * 5 + ["f"] * 3 + ["g"],
        ["b"] * 7 + ["h"] * 2 + ["a"] * 2 + ["i", "j"],
    ]
    for i, items in enumerate(batches):
        pd.DataFrame(
            {"k": ["x"] * len(items) + ["y"] * len(items), "item": items * 2}
        ).to_parquet(src / f"b{i}.parquet")

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("item", T.StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        pipeline.heavy_hitters_monitor(stream, "k", "item", k=k)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("hh_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM hh_out").collect()
    # final emission per key = the rows carrying the max n_total
    from collections import Counter, defaultdict

    final = defaultdict(dict)
    n_final = {}
    for r in rows:
        if r["k"] not in n_final or r["n_total"] >= n_final[r["k"]]:
            if r["k"] in n_final and r["n_total"] > n_final[r["k"]]:
                final[r["k"]].clear()
            n_final[r["k"]] = r["n_total"]
            final[r["k"]][r["item"]] = (r["count_est"], r["err"])

    true = Counter(it for b in batches for it in b)
    n_stream = sum(true.values())
    for key in ("x", "y"):
        counters = final[key]
        assert n_final[key] == n_stream
        assert len(counters) <= k
        for item, (est, err) in counters.items():
            assert est >= true[item] >= est - err, (item, est, err, true[item])
        for item, cnt in true.items():
            if cnt > n_stream / k:
                assert item in counters, (item, cnt)


def test_ab_readout_sink_bootstraps_string_ids(spark, tmp_path):
    """Self-review r10: the bootstrap state must take the BATCH's own
    schema — a hardcoded long id schema broke string unit ids on the
    first epoch's unionByName."""
    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.operators import experiment
    from z316_sales_data_pipeline_spark.streaming.pipeline import ab_readout_sink

    st = str(tmp_path / "abr_s_state")
    mv = str(tmp_path / "abr_s_mv")
    fold = ab_readout_sink(st, mv, "uid", "x", "y")
    b = spark.createDataFrame(
        [("u-1", 3, 6), ("u-2", 4, 4), ("u-3", 1, 9), ("u-4", 7, 2)],
        "uid string, x long, y long",
    )
    fold(b, 0)
    want = {
        tuple(r)
        for r in experiment.ab_readout(b, F.col("x"), F.col("y"), "uid").collect()
    }
    got = {tuple(r) for r in sinks.read_snapshot(spark, mv).collect()}
    assert got == want and got


def test_curation_gate_sink_matches_batch_twin_replay_noop_and_refusal(
    spark, sf_dir, tmp_path
):
    """The COMPOSED curation door: after EVERY epoch of monotone-id
    train batches, curation_gate_funnel equals the batch twin —
    plans.corpus_pipeline.curation_funnel over (all docs folded so
    far ∪ the frozen eval set), restricted to train docs — bit for
    bit, including the eviction-aware budget stage. A replayed epoch
    is a strict no-op on every table; a NEW epoch with ids at-or-below
    the folded maximum refuses; a batch carrying eval-source rows
    refuses."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.plans import corpus_pipeline
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    eval_docs = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    n = train.agg(F.max("doc_id")).first()[0]
    cuts = [(None, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, None)]
    slices = [
        train.filter(
            (F.lit(True) if lo is None else (F.col("doc_id") >= lo))
            & (F.lit(True) if hi is None else (F.col("doc_id") <= hi if hi is None else F.col("doc_id") < hi))
        )
        for lo, hi in cuts
    ]
    st = str(tmp_path / "cgs_state")
    acc = str(tmp_path / "cgs_acc")
    qua = str(tmp_path / "cgs_qua")
    fold = P.curation_gate_sink(
        st, acc, qua, "text", "doc_id", "lang", "source", eval_docs
    )
    seen = None
    for i, sl in enumerate(slices):
        fold(sl, i)
        seen = sl if seen is None else seen.unionByName(sl)
        got = sorted(
            map(tuple, P.curation_gate_funnel(spark, st).collect())
        )
        twin_lab = corpus_pipeline.curation_levels(
            seen.unionByName(eval_docs), "text", "doc_id", "lang", "source"
        ).filter(F.col("source") != "src0")
        want = sorted(
            map(
                tuple,
                corpus_pipeline._funnel_rows(twin_lab, 262139).collect(),
            )
        )
        assert got == want, f"epoch {i} funnel"
        # accepted/quarantined split matches the levels audit
        got_acc = {r["doc_id"] for r in sinks.read_appended(spark, acc).collect()}
        twin_admit = {
            r["doc_id"] for r in twin_lab.filter(F.col("level") >= 4).collect()
        }
        assert got_acc == twin_admit, f"epoch {i} accepted"

    # replay: strict no-op on every table
    tables = [f"{st}/fp", f"{st}/levels", acc, qua]
    versions = [int(open(f"{d}/_LATEST").read()) for d in tables]
    fold(slices[1], 1)
    assert [int(open(f"{d}/_LATEST").read()) for d in tables] == versions

    # late ids under a NEW epoch: refuse
    with _pytest.raises(ValueError, match="late/reordered"):
        fold(slices[0], 9)
    assert [int(open(f"{d}/_LATEST").read()) for d in tables] == versions

    # eval-source rows in the batch: refuse loudly (frozen-eval contract)
    bad = eval_docs.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    with _pytest.raises(Exception, match="eval-source"):
        fold(bad, 10)


def test_curation_gate_sink_eval_contender_and_eviction_paths(spark, tmp_path):
    """Crafted stream exercising the seams the synthetic corpus lacks:
    (a) a train doc whose fingerprint is owned by a LOWER-id frozen
    eval doc loses dedup winnership at the gate exactly as in the
    batch twin; (b) a later epoch's arrival EVICTS an earlier epoch's
    budget selection (stage 5 is not append-only across epochs)."""
    from z316_sales_data_pipeline_spark.plans import corpus_pipeline
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )

    def words(n, stem):
        return " ".join(f"{stem}{i % 50}x" for i in range(n))

    q2 = " ".join("wordpartsverylong" + str(i) for i in range(12))
    eval_docs = mk([(5, words(40, "evla"), "en", "src0")])
    e1 = mk(
        [
            (10, words(40, "evla"), "en", "srcA"),   # fp owned by eval id 5 -> loser
            (11, words(100, "pone"), "en", "srcA"),  # selected
            (12, q2, "en", "srcA"),                  # q3=2, selected at rest
        ]
    )
    e2 = mk([(100, words(120, "bevi"), "en", "srcA")])  # rank-evicts doc 12
    st = str(tmp_path / "cgs2_state")
    fold = P.curation_gate_sink(
        st,
        str(tmp_path / "cgs2_acc"),
        str(tmp_path / "cgs2_qua"),
        "text",
        "doc_id",
        "lang",
        "source",
        eval_docs,
        min_quality_x3=2,
        budget_tokens=200,
    )
    all_docs = eval_docs
    for i, sl in enumerate([e1, e2]):
        fold(sl, i)
        all_docs = all_docs.unionByName(sl)
        got = sorted(map(tuple, P.curation_gate_funnel(spark, st).collect()))
        twin_lab = corpus_pipeline.curation_levels(
            all_docs, "text", "doc_id", "lang", "source",
            min_quality_x3=2, budget_tokens=200,
        ).filter(F.col("source") != "src0")
        want = sorted(
            map(tuple, corpus_pipeline._funnel_rows(twin_lab, 262139).collect())
        )
        assert got == want, f"epoch {i}"
    final = {r["stage"]: r for r in P.curation_gate_funnel(spark, st).collect()}
    # doc 10 lost to the eval contender (dedup stage shrank) and doc 12
    # was evicted by doc 100's higher-quality arrival
    assert final["s3_exact_dedup"]["n_docs"] == final["s2_lang"]["n_docs"] - 1
    assert final["s5_token_budget"]["n_docs"] == 1


def test_curation_gate_sink_crash_windows_converge(spark, sf_dir, tmp_path, monkeypatch):
    """Fault injection into the composed gate's two sink-specific
    crash windows: (a) appends committed but the sink dies BEFORE the
    budget cutoff snapshot — the replay refolds everything (append txn
    keys no-op, budget folds first-time); (b) the sel snapshot lands
    but the sink dies BEFORE the commit marker — the replay must NOT
    refold the batch into the selection (the _CGS_SEL_EPOCH meta is
    the double-count guard) yet still lands the marker. Both replays
    must converge to exactly the clean-run state."""
    import pytest as _pytest

    from z316_sales_data_pipeline_spark import sinks
    from z316_sales_data_pipeline_spark.sources.tables import load_table
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    eval_docs = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    sl0 = train.filter(F.col("doc_id") < 167)
    sl1 = train.filter((F.col("doc_id") >= 167) & (F.col("doc_id") < 334))

    def run(tag, crash_mode):
        st = str(tmp_path / f"{tag}_state")
        fold = P.curation_gate_sink(
            st,
            str(tmp_path / f"{tag}_acc"),
            str(tmp_path / f"{tag}_qua"),
            "text", "doc_id", "lang", "source", eval_docs,
        )
        fold(sl0, 0)
        if crash_mode == "pre_cutoff":
            real = sinks.write_snapshot
            calls = {"n": 0}

            def boom(df, table_dir, **kw):
                calls["n"] += 1
                raise OSError("injected: died before the cutoff snapshot")

            monkeypatch.setattr(sinks, "write_snapshot", boom)
            try:
                with _pytest.raises(OSError, match="injected"):
                    fold(sl1, 1)
            finally:
                monkeypatch.setattr(sinks, "write_snapshot", real)
        elif crash_mode == "pre_marker":
            real = P._write_commit

            def boom(path, epoch, max_id):
                if epoch == 1:
                    raise OSError("injected: died before the commit marker")
                return real(path, epoch, max_id)

            monkeypatch.setattr(P, "_write_commit", boom)
            try:
                with _pytest.raises(OSError, match="injected"):
                    fold(sl1, 1)
            finally:
                monkeypatch.setattr(P, "_write_commit", real)
        fold(sl1, 1)  # the replay
        return st

    clean = run("cgclean", None)
    for mode in ("pre_cutoff", "pre_marker"):
        st = run(f"cg{mode}", mode)
        got = sorted(map(tuple, P.curation_gate_funnel(spark, st).collect()))
        want = sorted(map(tuple, P.curation_gate_funnel(spark, clean).collect()))
        assert got == want, mode
        got_sel = sorted(
            map(tuple, sinks.read_snapshot(spark, f"{st}/sel").collect())
        )
        want_sel = sorted(
            map(tuple, sinks.read_snapshot(spark, f"{clean}/sel").collect())
        )
        assert got_sel == want_sel, mode


def test_curation_gate_sink_randomized_stream_equivalence(spark, tmp_path):
    """Seeded randomized corpora (tiny vocab — cross-epoch and
    eval/train fingerprint collisions guaranteed) streamed in three
    monotone-id epochs: after the last epoch the gate's funnel must
    equal the batch twin restricted to train docs. Complements the
    crafted-path test with seam coverage no hand-built corpus
    enumerates."""
    import random

    from z316_sales_data_pipeline_spark.plans import corpus_pipeline
    from z316_sales_data_pipeline_spark.streaming import pipeline as P

    for seed in (11, 23):
        rng = random.Random(seed)
        texts = [
            " ".join(rng.choice(["alpha", "bravo", "carol", "delta", "echox"])
                     for _ in range(rng.randint(12, 60)))
            for _ in range(10)
        ]
        rows = []
        for i in range(36):
            src = rng.choice(["src0", "srcA", "srcB"]) if i < 12 else rng.choice(
                ["srcA", "srcB", "srcC"]
            )
            rows.append((i, rng.choice(texts), rng.choice(["en", "en", "fr"]), src))
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )
        eval_docs = docs.filter(F.col("source") == "src0")
        train = docs.filter(F.col("source") != "src0")
        budget = rng.choice([60, 150, 400])
        st = str(tmp_path / f"cgr{seed}_state")
        fold = P.curation_gate_sink(
            st,
            str(tmp_path / f"cgr{seed}_acc"),
            str(tmp_path / f"cgr{seed}_qua"),
            "text", "doc_id", "lang", "source", eval_docs,
            min_quality_x3=2, budget_tokens=budget,
        )
        for e, (lo, hi) in enumerate([(0, 12), (12, 24), (24, 36)]):
            fold(train.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), e)
        got = sorted(map(tuple, P.curation_gate_funnel(spark, st).collect()))
        twin_lab = corpus_pipeline.curation_levels(
            train.unionByName(eval_docs), "text", "doc_id", "lang", "source",
            min_quality_x3=2,
            budget_tokens=budget,
        ).filter(F.col("source") != "src0")
        want = sorted(
            map(tuple, corpus_pipeline._funnel_rows(twin_lab, 262139).collect())
        )
        assert got == want, seed
