"""Structured Streaming serving-mode tests: the streaming plans produce
the same results as their batch twins over the same input."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from finmapreduce_spark.session import read_table
from finmapreduce_spark.streaming.pipeline import (
    EVENT_SCHEMA,
    read_request_stream,
    run_stream_to_memory,
    serve_mapreduce,
    windowed_event_rollup,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="fmr_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_windowed_rollup_matches_batch(spark, sf_dir, tmpdir):
    """Streaming windowed agg over a file stream == batch groupBy over
    the same rows (watermark never drops anything when input is replayed
    in one availableNow pass)."""
    events = read_table(spark, sf_dir, "events")
    # stage events as parquet for the file stream source
    stage_dir = f"{tmpdir}/events"
    events.write.mode("overwrite").parquet(stage_dir)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(stage_dir)
    streamed = run_stream_to_memory(
        spark, windowed_event_rollup(stream), "rollup_out", output_mode="complete"
    )

    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type", "n", "total_value",
        )
    )
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_serve_mapreduce_availablenow(spark, sf_dir, tmpdir):
    """End-to-end serving: JSON requests land in a directory, the
    foreachBatch runner executes the full MapReduce DAG per micro-batch,
    answers appear in the results sink."""
    landing = f"{tmpdir}/landing"
    out = f"{tmpdir}/out"
    ckpt = f"{tmpdir}/ckpt"
    import os

    os.makedirs(landing)
    reqs = [
        {"qa_id": 1, "doc_id": 0, "question": "What is document 0 about?", "answer": "g"},
        {"qa_id": 2, "doc_id": 1, "question": "What is document 1 about?", "answer": "g"},
        {"qa_id": 3, "doc_id": 999999, "question": "missing doc?", "answer": "g"},
    ]
    with open(f"{landing}/batch0.json", "w") as f:
        for r in reqs:
            f.write(json.dumps(r) + "\n")

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = read_request_stream(spark, landing)
    q = serve_mapreduce(stream, docs, out, ckpt).start()
    q.awaitTermination()

    results = spark.read.json(out)
    rows = {r["qa_id"]: r.asDict() for r in results.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[3]["doc_error"] == "document not found"
    assert rows[1]["llm_answer"] and rows[1]["llm_answer"].startswith("answer-")


def test_stateful_sessionize_matches_batch(spark, sf_dir, tmpdir):
    """applyInPandasWithState sessionization == batch window-function
    sessionization for every CLOSED session (each user's final session
    stays open in state, so it is excluded from the comparison).

    Events are staged as ONE sorted parquet file so the single
    micro-batch sees rows in order (a real deployment orders by
    event-time watermark instead)."""
    from pyspark.sql import Window as W

    from finmapreduce_spark.queries.relational import sessionize_events
    from finmapreduce_spark.streaming.pipeline import stateful_sessionize

    events = read_table(spark, sf_dir, "events")
    stage_dir = f"{tmpdir}/events_sorted"
    events.repartition(1).sortWithinPartitions("ts", "event_id").write.mode(
        "overwrite"
    ).parquet(stage_dir)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1000)
        .parquet(stage_dir)
    )
    streamed = run_stream_to_memory(
        spark, stateful_sessionize(stream), "sessions_out", output_mode="append"
    )

    batch = sessionize_events(spark, sf_dir)
    last = batch.groupBy("user_id").agg(
        F.max("session_id").alias("last_sid")
    )
    closed = batch.join(last, "user_id").filter(
        F.col("session_id") < F.col("last_sid")
    ).select("user_id", "session_id", "n_events", "session_value", "session_start")

    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in closed.collect()}
    assert len(want) > 0
    assert got == want


def test_streaming_dedup_drops_replays(spark, sf_dir, tmpdir):
    """At-least-once input (every event delivered twice) -> exactly-once
    output within the watermark horizon."""
    from finmapreduce_spark.streaming.pipeline import streaming_dedup

    events = read_table(spark, sf_dir, "events").limit(500)
    doubled = events.union(events)
    stage_dir = f"{tmpdir}/events_doubled"
    doubled.repartition(1).write.mode("overwrite").parquet(stage_dir)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(stage_dir)
    out = run_stream_to_memory(
        spark, streaming_dedup(stream), "dedup_out", output_mode="append"
    )
    n_distinct = events.select("event_id").distinct().count()
    got = out.count()
    assert got == n_distinct
    assert doubled.count() == 2 * n_distinct


def test_stream_static_enrichment_join(spark, sf_dir, tmpdir):
    """Stream-static join: the event stream enriches against a static
    user-dimension without any stateful operator — each micro-batch
    broadcast-joins the dim, so results equal the batch join."""
    events = read_table(spark, sf_dir, "events").limit(1000)
    stage_dir = f"{tmpdir}/events_enrich"
    events.write.mode("overwrite").parquet(stage_dir)
    dim = (
        events.select("user_id").distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "a").otherwise("b"))
    )

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(stage_dir)
    enriched = stream.join(dim, "user_id").select("event_id", "user_id", "tier")
    got = run_stream_to_memory(spark, enriched, "enrich_out", output_mode="append")

    want = events.join(dim, "user_id").select("event_id", "user_id", "tier")
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    assert got.count() == 1000


def test_stream_stream_attribution_matches_batch(spark, sf_dir, tmpdir):
    """Stream-stream interval join over a replayed file stream equals
    the batch inequality join over the same rows (single availableNow
    pass -> nothing is dropped by the watermark)."""
    from finmapreduce_spark.streaming.pipeline import stream_stream_attribution

    events = read_table(spark, sf_dir, "events")
    stage_dir = f"{tmpdir}/events_ss"
    events.repartition(1).write.mode("overwrite").parquet(stage_dir)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(stage_dir)

    joined = stream_stream_attribution(stream, stream, window_minutes=30)
    got = run_stream_to_memory(spark, joined, "ss_out", output_mode="append")

    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    want = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")

    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert len(w) > 0
    assert g == w


def test_serve_checkpoint_recovery_exactly_once(spark, sf_dir, tmpdir):
    """Restarting the serving query against the same checkpoint must
    process ONLY files that arrived since — earlier requests are not
    re-answered (exactly-once across restarts)."""
    landing = f"{tmpdir}/landing"
    out = f"{tmpdir}/out"
    ckpt = f"{tmpdir}/ckpt"
    import os

    os.makedirs(landing)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")

    def drop(fname, reqs):
        with open(f"{landing}/{fname}", "w") as f:
            for r in reqs:
                f.write(json.dumps(r) + "\n")

    drop("b0.json", [
        {"qa_id": 1, "doc_id": 0, "question": "What is document 0 about?", "answer": "g"},
        {"qa_id": 2, "doc_id": 1, "question": "What is document 1 about?", "answer": "g"},
    ])
    q = serve_mapreduce(read_request_stream(spark, landing), docs, out, ckpt).start()
    q.awaitTermination()

    drop("b1.json", [
        {"qa_id": 3, "doc_id": 2, "question": "What is document 2 about?", "answer": "g"},
    ])
    q2 = serve_mapreduce(read_request_stream(spark, landing), docs, out, ckpt).start()
    q2.awaitTermination()

    rows = [r.asDict() for r in spark.read.json(out).collect()]
    seen = sorted(r["qa_id"] for r in rows)
    assert seen == [1, 2, 3]  # qa 1/2 answered exactly once, 3 picked up
    epochs = {r["qa_id"]: r["epoch_id"] for r in rows}
    assert epochs[3] > epochs[1]  # second run resumed at a later epoch


def test_latency_characterization_reports_percentiles(spark):
    """ROADMAP #4: the serving-latency harness commits the requested
    number of non-empty batches and reports positive row-latency and
    trigger-execution percentiles (structure-checked only — absolute
    numbers are machine-dependent)."""
    from finmapreduce_spark.streaming.latency import characterize_latency

    rep = characterize_latency(
        spark, rows_per_second=400, n_batches=3, timeout_s=90
    )
    assert rep["batches"] >= 3
    assert rep["rows_total"] > 0
    assert rep["row_latency_s"]["p50"] > 0
    assert rep["row_latency_s"]["p95"] >= rep["row_latency_s"]["p50"]
    assert rep["trigger_exec_ms"]["p50"] > 0


def test_streaming_incremental_passages_match_batch_twin(spark, sf_dir, tmp_path):
    """Round-5: incoming docs streamed through serve_incremental_
    passages produce EXACTLY the spans the batch operator computes for
    the same split — stream and batch share passage_gram_table /
    incremental_passage_spans, and this pins it."""
    import json as _json

    from pyspark.sql import functions as F

    from finmapreduce_spark.queries.dedup import (
        INGEST_MOD,
        incremental_passage_spans,
        passage_gram_table,
        passage_gram_store,
    )
    from finmapreduce_spark.session import read_table
    from finmapreduce_spark.streaming.pipeline import serve_incremental_passages

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    incoming = docs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) == 0)
    history = docs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) != 0)
    store = passage_gram_store(history).persist()

    want = sorted(
        map(
            tuple,
            incremental_passage_spans(
                passage_gram_table(incoming), store
            ).collect(),
        )
    )
    assert want, "twin test is vacuous with no shared passages"

    landing = tmp_path / "p_landing"
    landing.mkdir()
    rows = [r.asDict() for r in incoming.collect()]
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(landing / f"batch_{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "p_out"
    q = serve_incremental_passages(
        stream, store, str(out), str(tmp_path / "p_ckpt")
    ).start()
    q.awaitTermination()

    got_df = spark.read.json(str(out))
    got = sorted(
        tuple(r)
        for r in got_df.select(
            "doc_id", "hist_id", "a_start", "b_start", "n_words"
        ).collect()
    )
    assert got == want
    store.unpersist()


def test_streaming_incremental_dedup_matches_batch_twin(spark, sf_dir, tmp_path):
    """Round-2 #3: incoming docs streamed through serve_incremental_
    dedup produce EXACTLY the verdicts the batch operator computes for
    the same split — stream and batch share band_signature_table /
    incremental_verdicts, and this pins it."""
    import json as _json

    from pyspark.sql import functions as F

    from finmapreduce_spark.queries.dedup import (
        INGEST_MOD,
        band_signature_table,
        incremental_verdicts,
    )
    from finmapreduce_spark.session import read_table
    from finmapreduce_spark.streaming.pipeline import serve_incremental_dedup

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    incoming = docs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) == 0)
    history = docs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) != 0)
    history_buckets = band_signature_table(history).persist()

    # batch ground truth
    want = sorted(
        map(
            tuple,
            incremental_verdicts(
                band_signature_table(incoming), history_buckets
            ).collect(),
        )
    )

    # stream the incoming docs from a landing dir (2 files → ≥1 epochs)
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [r.asDict() for r in incoming.collect()]
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(landing / f"batch_{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "verdicts"
    q = serve_incremental_dedup(
        stream, history_buckets, str(out), str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination()

    got_df = spark.read.json(str(out))
    got = sorted(
        tuple(r)
        for r in got_df.select(
            "doc_id", "n_candidates", "max_jaccard", "verdict"
        ).collect()
    )
    assert got == want
    assert want, "twin test is vacuous with no near-dup verdicts"


def test_continuous_dedup_store_grows_across_epochs(spark, tmp_path):
    """Round-3 #2: a doc ADMITTED in epoch 0 must reject its near-dup
    arriving in epoch 1 — i.e., the signature store actually updates
    between micro-batches."""
    import json as _json

    from finmapreduce_spark.queries.dedup import band_signature_table
    from finmapreduce_spark.streaming.pipeline import (
        serve_incremental_dedup_continuous,
    )

    base_text = " ".join(f"tok{i}" for i in range(60))
    near_dup = " ".join(f"tok{i}" for i in range(58)) + " novel1 novel2"
    unrelated = " ".join(f"other{i}" for i in range(60))

    # seed store: one unrelated doc
    store = tmp_path / "store"
    seed = spark.createDataFrame([(1, unrelated)], "doc_id long, text string")
    band_signature_table(seed).write.parquet(str(store))

    # epoch 0 delivers the base doc; epoch 1 its near-dup
    landing = tmp_path / "landing"
    landing.mkdir()
    import os as _os
    import time as _time

    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 100, "text": base_text}) + "\n"
    )
    (landing / "e1.json").write_text(
        _json.dumps({"doc_id": 200, "text": near_dup}) + "\n"
    )
    # file source orders batches by modification time — make e0
    # strictly older so the epochs arrive in the intended order
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "verdicts"
    q = serve_incremental_dedup_continuous(
        stream, str(store), str(out), str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination()

    verdicts = {
        r["doc_id"]: r["verdict"] for r in spark.read.json(str(out)).collect()
    }
    assert 100 not in verdicts  # base doc admitted (only unrelated in store)
    assert verdicts.get(200) == "reject_near_dup"  # caught by updated store
    # store now holds seed + admitted base doc, NOT the rejected dup
    stored_ids = {
        r["doc_id"]
        for r in spark.read.parquet(str(store)).select("doc_id").distinct().collect()
    }
    assert stored_ids == {1, 100}


# slow (≈30 s): many-epoch compaction replay; the single-epoch store
# tests cover the compaction arithmetic by default.
@pytest.mark.slow
def test_compact_signature_store_collapses_files_and_replays(spark, tmp_path):
    """Compaction closes the continuous-ingest loop: many epoch-append
    files (including a replayed epoch's duplicate rows) rewrite into
    few key-sorted files with duplicates collapsed, the swap keeps a
    rollback copy, and — the part that matters — incremental dedup
    probed against the compacted store returns the SAME verdicts."""
    import glob

    from finmapreduce_spark.queries.dedup import (
        band_signature_table,
        incremental_verdicts,
    )
    from finmapreduce_spark.sources.sinks import compact_signature_store

    store = str(tmp_path / "store")
    docs = [
        (i, " ".join(f"d{i}w{j}" for j in range(60))) for i in range(1, 6)
    ]
    for doc in docs:  # one append per epoch → one small file each
        seed = spark.createDataFrame([doc], "doc_id long, text string")
        band_signature_table(seed).coalesce(1).write.mode("append").parquet(store)
    # replayed epoch: doc 3's rows land twice
    replay = spark.createDataFrame([docs[2]], "doc_id long, text string")
    band_signature_table(replay).coalesce(1).write.mode("append").parquet(store)

    near_dup_of_2 = " ".join(f"d2w{j}" for j in range(58)) + " x y"
    delta = spark.createDataFrame(
        [(100, near_dup_of_2), (200, "totally fresh words only")],
        "doc_id long, text string",
    )
    delta_sig = band_signature_table(delta).persist()
    before = {
        r["doc_id"]: r["verdict"]
        for r in incremental_verdicts(
            delta_sig, spark.read.parquet(store)
        ).collect()
    }

    assert before.get(100) == "reject_near_dup" and 200 not in before

    stats = compact_signature_store(spark, store, target_files=2)
    assert stats["files_before"] >= 6
    assert stats["files_after"] <= 2
    assert stats["rows_after"] < stats["rows_before"]  # replay collapsed

    after_df = spark.read.parquet(store)
    assert after_df.count() == stats["rows_after"]
    # logical content: distinct (doc_id, band_id, key) unchanged
    assert (
        after_df.select("doc_id", "band_id", "key").distinct().count()
        == stats["rows_after"]
    )
    after = {
        r["doc_id"]: r["verdict"]
        for r in incremental_verdicts(delta_sig, after_df).collect()
    }
    assert after == before
    # rollback copy kept
    assert glob.glob(store + ".pre-compact/*.parquet")


def test_continuous_passages_store_grows_across_epochs(spark, tmp_path):
    """Passage-level live-store ingest (M95): a doc ADMITTED in epoch 0
    must have its passages detected in epoch 1 (gram store updates
    between micro-batches), and a doc that is mostly duplicated
    passage (> max_coverage) must be REJECTED — not appended."""
    import json as _json
    import os as _os
    import time as _time

    from finmapreduce_spark.queries.dedup import passage_gram_store
    from finmapreduce_spark.streaming.pipeline import (
        serve_incremental_passages_continuous,
    )

    passage = " ".join(f"p{i}" for i in range(18))
    base = passage + " " + " ".join(f"fill{i}" for i in range(30))
    mostly_dup = passage + " fresh1 fresh2 fresh3 fresh4"
    unrelated = " ".join(f"other{i}" for i in range(40))

    store = tmp_path / "gstore"
    seed = spark.createDataFrame([(1, unrelated)], "doc_id long, text string")
    passage_gram_store(seed).write.parquet(str(store))

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 100, "text": base}) + "\n"
    )
    (landing / "e1.json").write_text(
        _json.dumps({"doc_id": 200, "text": mostly_dup}) + "\n"
    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "spans"
    q = serve_incremental_passages_continuous(
        stream, str(store), str(out), str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination()

    spans = spark.read.json(str(out)).collect()
    # epoch 0: base vs unrelated seed — no spans; epoch 1: the shared
    # passage is found against the doc admitted ONE EPOCH EARLIER
    assert {(r["doc_id"], r["hist_id"]) for r in spans} == {(200, 100)}
    assert max(r["n_words"] for r in spans) == 18
    stored_ids = {
        r["doc_id"]
        for r in spark.read.parquet(str(store)).select("doc_id").distinct().collect()
    }
    # 200 is 18/22 duplicated words (> 0.5) — rejected from the store
    assert stored_ids == {1, 100}


def test_compact_gram_store_reapplies_caps_and_swaps(spark, tmp_path):
    """Gram-store compaction (M95): per-epoch appends can only apply
    the per-doc cap, so a gram carried by more and more admitted docs
    DRIFTS past the df cap. Compaction must collapse replays + small
    files AND re-apply the df cap — pinned by the strong invariant
    compact(store) == passage_gram_store(all admitted docs)."""
    import glob

    from finmapreduce_spark.queries.dedup import (
        PASSAGE_MAX_DF,
        _capped_occurrences,
        incremental_passage_spans,
        passage_gram_table,
        passage_gram_store,
    )
    from finmapreduce_spark.sources.sinks import compact_gram_store

    common = " ".join(f"c{i}" for i in range(6))
    n_docs = PASSAGE_MAX_DF + 2
    docs = [
        (i, common + " " + " ".join(f"u{i}w{j}" for j in range(12)))
        for i in range(1, n_docs + 1)
    ]
    store = str(tmp_path / "gstore")
    for doc in docs:  # one append per epoch, per-doc cap only
        d = spark.createDataFrame([doc], "doc_id long, text string")
        (
            _capped_occurrences(passage_gram_table(d))
            .select("doc_id", F.explode("poss").alias("pos"), "h")
            .coalesce(1)
            .write.mode("append")
            .parquet(store)
        )
    # replayed epoch: doc 3's grams land twice
    d3 = spark.createDataFrame([docs[2]], "doc_id long, text string")
    (
        _capped_occurrences(passage_gram_table(d3))
        .select("doc_id", F.explode("poss").alias("pos"), "h")
        .coalesce(1)
        .write.mode("append")
        .parquet(store)
    )

    # drift visible BEFORE compaction: a delta carrying the common gram
    # matches it in every stored doc
    delta = spark.createDataFrame(
        [(500, common + " zz1 zz2 zz3 zz4 zz5 zz6")], "doc_id long, text string"
    )
    # run >= MIN_RUN needs 2 chained grams -> probe with doc 2's tail
    delta2 = spark.createDataFrame(
        [(600, " ".join(f"u2w{j}" for j in range(12)))], "doc_id long, text string"
    )
    before2 = incremental_passage_spans(
        passage_gram_table(delta2), spark.read.parquet(store)
    ).collect()
    assert {r["hist_id"] for r in before2} == {2}

    stats = compact_gram_store(spark, store, target_files=2)
    assert stats["files_before"] >= n_docs + 1
    assert stats["files_after"] <= 2
    assert stats["rows_after"] < stats["rows_before"]  # replay + drift gone

    all_docs = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        (r["doc_id"], r["pos"], r["h"])
        for r in passage_gram_store(all_docs).collect()
    }
    got = {
        (r["doc_id"], r["pos"], r["h"])
        for r in spark.read.parquet(store).collect()
    }
    assert got == want  # the invariant: rebuild-equivalent store
    # unique-tail probe unchanged; drifted common gram no longer matches
    after2 = incremental_passage_spans(
        passage_gram_table(delta2), spark.read.parquet(store)
    ).collect()
    assert {r["hist_id"] for r in after2} == {2}
    assert glob.glob(store + ".pre-compact/*.parquet")


def test_replayed_epoch_does_not_self_match_band_store(spark, tmp_path):
    """Crash-replay regression: if a crashed attempt already appended
    the batch's OWN signatures to the store, the replayed epoch must
    not match docs against themselves (jaccard 1.0 false rejections) —
    the batch is probed against PRIOR history only."""
    import json as _json

    from finmapreduce_spark.queries.dedup import band_signature_table
    from finmapreduce_spark.streaming.pipeline import (
        serve_incremental_dedup_continuous,
        stamp_store_epoch,
    )

    text = " ".join(f"tok{i}" for i in range(60))
    store = tmp_path / "store"
    # simulate the crashed attempt: the store already holds THIS
    # batch's signatures, stamped with the epoch that will replay (0)
    crashed = spark.createDataFrame([(100, text)], "doc_id long, text string")
    stamp_store_epoch(band_signature_table(crashed), 0).write.parquet(str(store))

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 100, "text": text}) + "\n"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "out"
    q = serve_incremental_dedup_continuous(
        stream, str(store), str(out), str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination()

    verdicts = [r.asDict() for r in spark.read.json(str(out)).collect()]
    assert verdicts == []  # no self-rejection


def test_replayed_epoch_does_not_self_match_gram_store(spark, tmp_path):
    """Passage twin of the band-store replay regression: the batch's
    own grams left by a crashed attempt must not produce full-length
    self-spans."""
    import json as _json

    from finmapreduce_spark.queries.dedup import (
        passage_gram_table,
        _capped_occurrences,
    )
    from finmapreduce_spark.streaming.pipeline import (
        serve_incremental_passages_continuous,
        stamp_store_epoch,
    )
    from pyspark.sql import functions as F

    text = " ".join(f"w{i}" for i in range(80))
    crashed = spark.createDataFrame([(7, text)], "doc_id long, text string")
    store = tmp_path / "store"
    stamp_store_epoch(
        _capped_occurrences(passage_gram_table(crashed)).select(
            "doc_id", F.explode("poss").alias("pos"), "h"
        ),
        0,
    ).write.parquet(str(store))

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 7, "text": text}) + "\n"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "out"
    q = serve_incremental_passages_continuous(
        stream, str(store), str(out), str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination()

    spans = [r.asDict() for r in spark.read.json(str(out)).collect()]
    assert spans == []  # no self-span, doc stays admitted


def test_semantic_continuous_lifecycle(spark, tmp_path):
    """Embedding-gated ingest lifecycle: epoch-0's admitted doc lands
    in the store and rejects its epoch-1 near-variant on cosine (not
    exact Jaccard); the variant's rows never enter the store."""
    import json as _json
    import os as _os
    import time as _time

    from finmapreduce_spark.queries.dedup import semantic_signature_table
    from finmapreduce_spark.streaming.pipeline import (
        serve_incremental_semantic_continuous,
    )

    base_text = " ".join(f"tok{i}" for i in range(60))
    variant = " ".join(f"tok{i}" for i in range(58)) + " novel1 novel2"
    unrelated = " ".join(f"other{i}" for i in range(60))

    store = tmp_path / "store"
    seed = spark.createDataFrame([(1, unrelated)], "doc_id long, text string")
    semantic_signature_table(seed).write.parquet(str(store))

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 100, "text": base_text}) + "\n"
    )
    (landing / "e1.json").write_text(
        _json.dumps({"doc_id": 200, "text": variant}) + "\n"
    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "out"
    q = serve_incremental_semantic_continuous(
        stream, str(store), str(out), str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination()

    verdicts = {
        r["doc_id"]: r.asDict() for r in spark.read.json(str(out)).collect()
    }
    assert 100 not in verdicts  # base admitted (store had only unrelated)
    assert verdicts[200]["verdict"] == "reject_semantic_dup"
    assert verdicts[200]["max_cosine"] >= 0.95
    stored = {
        r["doc_id"]
        for r in spark.read.parquet(str(store)).select("doc_id").distinct().collect()
    }
    assert stored == {1, 100}


def test_resubmitted_doc_rejected_not_readmitted(spark, tmp_path):
    """The replay guard is keyed on epoch_id, not doc_id: a doc
    ADMITTED in epoch 0 and resubmitted verbatim in epoch 1 (same
    doc_id) must match its own prior-epoch store rows and be REJECTED
    — and its rows must not re-enter the store."""
    import json as _json
    import os as _os
    import time as _time

    from finmapreduce_spark.streaming.pipeline import (
        serve_incremental_dedup_continuous,
    )

    text = " ".join(f"tok{i}" for i in range(60))
    store = tmp_path / "store"
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 100, "text": text}) + "\n"
    )
    (landing / "e1.json").write_text(
        _json.dumps({"doc_id": 100, "text": text}) + "\n"
    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    store.mkdir()  # empty store; epoch 0 seeds it
    # empty dir is not a parquet store — seed with an unrelated doc
    from finmapreduce_spark.queries.dedup import band_signature_table

    seed = spark.createDataFrame(
        [(1, " ".join(f"other{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    band_signature_table(seed).write.mode("overwrite").parquet(str(store))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "out"
    q = serve_incremental_dedup_continuous(
        stream, str(store), str(out), str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination()

    rows = [r.asDict() for r in spark.read.json(str(out)).collect()]
    # exactly one verdict: the epoch-1 resubmission rejected against
    # the epoch-0 admission (self-match at jaccard 1.0)
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 100 and rows[0]["verdict"] == "reject_near_dup"
    # store: seed + ONE copy of doc 100's signatures (epoch 0's)
    from pyspark.sql import functions as F

    per_doc = (
        spark.read.option("mergeSchema", "true").parquet(str(store))
        .groupBy("doc_id")
        .agg(F.countDistinct("epoch_id").alias("n_epochs"))
        .collect()
    )
    assert {r["doc_id"]: r["n_epochs"] for r in per_doc}[100] == 1


def test_store_lock_blocks_ingest_and_double_compaction(spark, tmp_path):
    """Compaction takes an exclusive side-car lock: a second compaction
    fails fast, and a continuous-ingest epoch arriving mid-compaction
    raises instead of racing the swap."""
    import json as _json
    import os

    from finmapreduce_spark.queries.dedup import band_signature_table
    from finmapreduce_spark.sources.sinks import (
        _StoreLock,
        compact_signature_store,
        store_lock_path,
    )
    from finmapreduce_spark.streaming.pipeline import (
        serve_incremental_dedup_continuous,
    )

    store = str(tmp_path / "store")
    seed = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(60)))], "doc_id long, text string"
    )
    band_signature_table(seed).write.parquet(store)

    with _StoreLock(store):
        # second compaction: the lock is held → fail fast
        with pytest.raises(RuntimeError, match="lock"):
            compact_signature_store(spark, store)
        # ingest epoch during compaction: fail fast, nothing appended
        landing = tmp_path / "landing"
        landing.mkdir()
        (landing / "e0.json").write_text(
            _json.dumps({"doc_id": 5, "text": "fresh words only"}) + "\n"
        )
        stream = (
            spark.readStream.schema("doc_id long, text string").json(str(landing))
        )
        q = serve_incremental_dedup_continuous(
            stream, store, str(tmp_path / "out"), str(tmp_path / "ckpt")
        ).start()
        with pytest.raises(Exception, match="locked for compaction"):
            q.awaitTermination()
    # lock released → compaction now succeeds
    assert not os.path.exists(store_lock_path(store))
    stats = compact_signature_store(spark, store)
    assert stats["files_after"] >= 1


def test_streaming_cleaning_gate_matches_batch_twin(spark, sf_dir, tmp_path):
    """Raw docs streamed through serve_cleaning_gate produce EXACTLY
    the per-doc verdicts the batch funnel projection computes for the
    same rows — stream and batch share cleaning_stage."""
    import json as _json

    from finmapreduce_spark.queries.textops import cleaning_stage
    from finmapreduce_spark.session import read_table
    from finmapreduce_spark.streaming.pipeline import serve_cleaning_gate

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    want = sorted(map(tuple, cleaning_stage(docs).collect()))
    assert any(r[2] for r in want) and not all(
        r[2] for r in want
    ), "twin test wants both kept and dropped docs"

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [r.asDict() for r in docs.collect()]
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(landing / f"batch_{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "verdicts"
    q = serve_cleaning_gate(stream, str(out), str(tmp_path / "ckpt")).start()
    q.awaitTermination()

    got_df = spark.read.json(str(out))
    got = sorted(
        tuple(r)
        for r in got_df.select(
            "doc_id", "source", "keep", "n_words", "fp"
        ).collect()
    )
    assert got == want


def test_compaction_refuses_while_append_in_flight(spark, tmp_path):
    """Two-sided guard: a compaction starting while an epoch's append
    marker is up must refuse (the epoch passed its lock check before
    the lock existed — its file may land after the re-list)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from finmapreduce_spark.sources.sinks import (
        append_marker,
        compact_signature_store,
    )

    store = tmp_path / "store"
    spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band_id"),
        F.col("id").cast("string").alias("key"),
    ).write.parquet(str(store))
    with append_marker(str(store)):
        with _pytest.raises(RuntimeError, match="in flight"):
            compact_signature_store(spark, str(store))
    # marker released → compaction proceeds
    out = compact_signature_store(spark, str(store))
    assert out["rows_after"] == 5


@pytest.mark.parametrize(
    "compactor", ["compact_signature_store", "compact_dsir_store"]
)
def test_compaction_crash_between_renames_loses_no_rows(
    spark, tmp_path, monkeypatch, compactor
):
    """A compaction killed between its swap's two renames leaves the
    store only in its ``.pre-compact`` rollback copy. The next epoch
    read restores it, the compactor re-runs to the same result as an
    uncrashed one, and a later append + compaction keeps every
    original row (the stale rollback must never be deleted as if the
    swap had landed). Covers a set store and a SUM store."""
    import os

    from finmapreduce_spark.sources import sinks
    from finmapreduce_spark.streaming.pipeline import (
        _history_or_empty,
        stamp_store_epoch,
    )

    compact = getattr(sinks, compactor)
    if compactor == "compact_signature_store":
        schema, key = "doc_id long, band_id int, key string", None

        def batch(e):
            return [(e * 10 + i, i % 3, f"k{e}-{i}") for i in range(10)]
    else:
        schema, key = "b int, t_add long, r_add long", ["b"]

        def batch(e):
            return [(e * 10 + i, 1, i % 2) for i in range(10)]

    def append(store, epochs):
        for e in epochs:
            stamp_store_epoch(
                spark.createDataFrame(batch(e), schema), e
            ).write.mode("append").parquet(store)

    like = spark.createDataFrame([], schema)

    def rows(store):  # what a later epoch's history read sees
        return sorted(
            map(tuple, _history_or_empty(spark, store, 99, like, key).collect())
        )

    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    append(crashed, range(3))
    append(clean, range(3))
    before = rows(crashed)
    assert len(before) == 30

    real_rename = os.rename

    def killed_on_second_rename(src, dst):
        if src.endswith(".compacting"):
            raise OSError("killed between the swap's renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", killed_on_second_rename)
    with pytest.raises(OSError, match="killed"):
        compact(spark, crashed)
    monkeypatch.undo()
    assert not os.path.exists(crashed)
    assert os.path.isdir(crashed + ".pre-compact")
    lock = sinks.store_lock_path(crashed)
    if os.path.exists(lock):  # a hard kill leaves it; the operator clears it
        os.remove(lock)

    assert rows(crashed) == before
    assert (
        compact(spark, crashed)["rows_after"]
        == compact(spark, clean)["rows_after"]
    )
    for store in (crashed, clean):
        append(store, [3])
        compact(spark, store)
    after = rows(crashed)
    assert set(before) <= set(after)
    assert after == rows(clean)
    spark.catalog.clearCache()


def test_serve_mapreduce_response_cache_across_epochs(spark, sf_dir, tmpdir):
    """Streaming + response cache: a SECOND epoch carrying the same
    question pays ZERO new LLM calls — the foreachBatch DAG's map,
    reduce, and judge prompts all hit the cross-run cache table. This
    is the paid-call idempotency story under the streaming runner,
    where epoch replays and duplicate submissions are routine."""
    import functools
    import os

    from finmapreduce_spark.plans.mapreduce import MapReduceConfig
    from tests.test_response_cache import _count_calls, counting_factory

    landing = f"{tmpdir}/landing"
    out = f"{tmpdir}/out"
    ckpt = f"{tmpdir}/ckpt"
    calls = f"{tmpdir}/calls.log"
    os.makedirs(landing)
    req = {"qa_id": 1, "doc_id": 0,
           "question": "What is document 0 about?", "answer": "g"}
    with open(f"{landing}/batch0.json", "w") as f:
        f.write(json.dumps(req) + "\n")

    cfg = MapReduceConfig(
        response_cache_dir=f"{tmpdir}/resp_cache",
        client_factory=functools.partial(counting_factory, calls),
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    q = serve_mapreduce(read_request_stream(spark, landing), docs, out, ckpt,
                        cfg=cfg).start()
    q.awaitTermination()
    n1 = _count_calls(calls)
    assert n1 > 0

    # second epoch: same question resubmitted (new file, new qa row)
    with open(f"{landing}/batch1.json", "w") as f:
        f.write(json.dumps(req) + "\n")
    q2 = serve_mapreduce(read_request_stream(spark, landing), docs, out, ckpt,
                         cfg=cfg).start()
    q2.awaitTermination()
    assert _count_calls(calls) == n1  # all prompts served from cache

    results = spark.read.json(out)
    answers = [r["llm_answer"] for r in results.collect()]
    assert len(answers) == 2 and len(set(answers)) == 1  # identical


def test_streaming_ann_index_maintenance_twin(spark, sf_dir, tmp_path):
    """serve_incremental_ann: delta embeddings streamed across two
    epochs route through the frozen centroids and land as per-epoch
    segments; serving over the maintained index equals the batch
    incremental query (whose oracle the driver certifies)."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from finmapreduce_spark.queries.similarity import (
        K_CLUSTERS,
        KMEANS_ITERS,
        _assign,
        _ivf_is_delta,
        _recompute,
        _serve_cells,
        ann_ivf_incremental_topk,
        emb_table,
        read_ivf_vectors,
    )
    from finmapreduce_spark.streaming.pipeline import serve_incremental_ann

    root = str(tmp_path / "ivf")
    v = emb_table(spark, sf_dir)
    base = v.filter(~_ivf_is_delta(F.col("vec_id")))
    cents = base.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("v").alias("cv"),
        F.col("norm").alias("c_norm"),
    )
    for _ in range(KMEANS_ITERS):
        cents = _recompute(_assign(base, cents))
    cents = cents.persist()
    _assign(base, cents).write.mode("overwrite").partitionBy("cid").parquet(
        _os.path.join(root, "vectors")
    )
    cents.write.mode("overwrite").parquet(_os.path.join(root, "centroids"))
    cents.unpersist()

    # delta vectors arrive as two epochs (split by vec_id parity)
    delta_rows = (
        v.filter(_ivf_is_delta(F.col("vec_id"))).select("vec_id", "v").collect()
    )
    assert len(delta_rows) > 2
    landing = tmp_path / "landing"
    landing.mkdir()
    for name, keep in (("e0.json", 0), ("e1.json", 1)):
        with open(landing / name, "w") as fh:
            for r in delta_rows:
                if r["vec_id"] % 2 == keep:
                    fh.write(
                        _json.dumps({"vec_id": r["vec_id"], "v": list(r["v"])})
                        + "\n"
                    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))

    stream = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    q = serve_incremental_ann(stream, root, str(tmp_path / "ckpt")).start()
    q.awaitTermination()

    # two per-epoch segments landed
    segs = [p for p in _os.listdir(root) if p.startswith("vectors-delta-")]
    assert len(segs) == 2

    served = sorted(
        map(
            tuple,
            _serve_cells(
                read_ivf_vectors(spark, root).select("vec_id", "v", "norm", "cid")
            ).collect(),
        )
    )
    want = sorted(map(tuple, ann_ivf_incremental_topk(spark, sf_dir).collect()))
    assert served == want


def test_streaming_incremental_substring_matches_batch_twin(
    spark, sf_dir, tmp_path
):
    """Round-10: incoming docs streamed through
    serve_incremental_substring produce EXACTLY the verbatim-overlap
    pairs the batch operator computes for the same split — stream and
    batch share incremental_substring_pairs, and this pins it."""
    import json as _json

    from pyspark.sql import functions as F

    from finmapreduce_spark.queries.dedup import (
        INGEST_MOD,
        _substring_base,
        incremental_substring_pairs,
        substring_fp_table,
    )
    from finmapreduce_spark.session import read_table
    from finmapreduce_spark.streaming.pipeline import (
        serve_incremental_substring,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    incoming = docs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) == 0)
    history = docs.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) != 0)
    store = substring_fp_table(_substring_base(history)).persist()

    want = sorted(
        map(
            tuple,
            incremental_substring_pairs(
                incoming, history, history_fps=store
            ).collect(),
        )
    )
    assert want, "twin test is vacuous with no shared substrings"

    landing = tmp_path / "ss_landing"
    landing.mkdir()
    rows = [r.asDict() for r in incoming.collect()]
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(landing / f"batch_{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "ss_out"
    q = serve_incremental_substring(
        stream, history, str(out), str(tmp_path / "ss_ckpt"),
        history_fps=store,
    ).start()
    q.awaitTermination()

    got_df = spark.read.json(str(out))
    got = sorted(
        tuple(r)
        for r in got_df.select("doc_id", "hist_id", "n_shared_grams").collect()
    )
    assert got == want
    spark.catalog.clearCache()


def test_continuous_substring_store_grows_across_epochs(spark, tmp_path):
    """Round-10: a doc ADMITTED in epoch 0 must reject its verbatim
    copy arriving in epoch 1 via winnow containment — the fingerprint
    store actually updates between micro-batches."""
    import json as _json
    import os as _os
    import random
    import string
    import time as _time

    from finmapreduce_spark.queries.dedup import (
        _substring_base,
        substring_fp_table,
    )
    from finmapreduce_spark.streaming.pipeline import (
        serve_incremental_substring_continuous,
    )

    rng = random.Random(10010)

    def txt(n):
        return "".join(
            rng.choice(string.ascii_letters + "   ") for _ in range(n)
        )

    base_text = txt(400)
    verbatim_copy = base_text[: 360]  # 90% of the admitted doc
    unrelated, unrelated2 = txt(400), txt(400)

    store = tmp_path / "fp_store"
    seed = spark.createDataFrame(
        [(1, unrelated)], "doc_id long, text string"
    )
    substring_fp_table(_substring_base(seed)).write.parquet(str(store))

    landing = tmp_path / "ss_landing"
    landing.mkdir()
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 100, "text": base_text}) + "\n"
    )
    (landing / "e1.json").write_text(
        _json.dumps({"doc_id": 200, "text": verbatim_copy}) + "\n"
        + _json.dumps({"doc_id": 201, "text": unrelated2}) + "\n"
    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "ss_verdicts"
    q = serve_incremental_substring_continuous(
        stream, str(store), str(out), str(tmp_path / "ss_ckpt")
    ).start()
    q.awaitTermination()

    rej = {
        r["doc_id"]: r["containment"]
        for r in spark.read.json(str(out)).collect()
    }
    assert 100 not in rej  # fresh text admitted against unrelated seed
    assert 201 not in rej  # fresh text admitted in epoch 1
    assert rej.get(200, 0) > 0.5  # verbatim copy caught by UPDATED store
    # store holds seed + admitted docs' fps, not the rejected copy's
    store_docs = {
        r["doc_id"]
        for r in spark.read.option("mergeSchema", "true")
        .parquet(str(store))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert store_docs == {1, 100, 201}


def test_compact_fp_store_preserves_probe_results(spark, tmp_path):
    """compact_fp_store: files shrink, duplicate replayed rows
    collapse, and a containment probe sees identical results before
    and after the rewrite."""
    import random
    import string

    from finmapreduce_spark.queries.dedup import (
        _substring_base,
        substring_fp_table,
    )
    from finmapreduce_spark.sources.sinks import compact_fp_store

    rng = random.Random(10011)

    def txt(n):
        return "".join(
            rng.choice(string.ascii_letters + "   ") for _ in range(n)
        )

    store = tmp_path / "fp_store2"
    docs = spark.createDataFrame(
        [(i, txt(300)) for i in range(6)], "doc_id long, text string"
    )
    fps = substring_fp_table(_substring_base(docs))
    fps.write.parquet(str(store))
    # simulate replayed epoch appends: same rows again, stamped
    from pyspark.sql import functions as F

    fps.withColumn("epoch_id", F.lit(3).cast("long")).write.mode(
        "append"
    ).parquet(str(store))
    fps.withColumn("epoch_id", F.lit(3).cast("long")).write.mode(
        "append"
    ).parquet(str(store))

    def probe():
        hist = (
            spark.read.option("mergeSchema", "true")
            .parquet(str(store))
            .select("doc_id", "fp")
            .dropDuplicates(["doc_id", "fp"])
        )
        return sorted(
            tuple(r) for r in hist.groupBy("doc_id")
            .agg(F.count("*").alias("n"))
            .collect()
        )

    before = probe()
    stats = compact_fp_store(spark, str(store), target_files=2)
    after = probe()
    assert after == before
    assert stats["rows_after"] < stats["rows_before"]  # replays collapsed
    assert stats["files_after"] <= stats["files_before"]
    assert "epoch_id" not in spark.read.parquet(str(store)).columns


def test_continuous_url_store_flags_recrawl_across_epochs(spark, tmp_path):
    """Round-11: a canonical URL admitted in epoch 0 must flag its
    re-crawl (a DIFFERENT doc whose messy raw URL normalizes to the
    same canonical — doc ids congruent mod 80 in the synthesized
    scheme) arriving in epoch 1, with hist_keeper pointing at the
    admitted doc; fresh URLs admit and the store holds one keeper row
    per canonical URL."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from finmapreduce_spark.queries.dedup import _doc_urls
    from finmapreduce_spark.streaming.pipeline import (
        serve_incremental_url_continuous,
    )

    store = tmp_path / "url_store"
    seed = spark.createDataFrame([(5, "seed doc")], "doc_id long, text string")
    (
        _doc_urls(seed)
        .groupBy("url_canonical")
        .agg(F.min("doc_id").alias("keeper"))
        .write.parquet(str(store))
    )

    landing = tmp_path / "url_landing"
    landing.mkdir()
    # doc 10 (epoch 0) and doc 90 (epoch 1): 90 ≡ 10 (mod 80) → same
    # canonical URL from different raw mess; docs 11 and 91 are a
    # fresh canonical URL arriving TWICE within epoch 1 (91 ≡ 11) —
    # the non-min copy must be flagged even though history has no row
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 10, "text": "first crawl"}) + "\n"
    )
    (landing / "e1.json").write_text(
        _json.dumps({"doc_id": 90, "text": "re-crawl"}) + "\n"
        + _json.dumps({"doc_id": 11, "text": "fresh"}) + "\n"
        + _json.dumps({"doc_id": 91, "text": "fresh intra-batch copy"})
        + "\n"
    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "url_verdicts"
    q = serve_incremental_url_continuous(
        stream, str(store), str(out), str(tmp_path / "url_ckpt")
    ).start()
    q.awaitTermination()

    rows = {r["doc_id"]: r for r in spark.read.json(str(out)).collect()}
    assert set(rows) == {10, 90, 11, 91}
    assert rows[10]["is_duplicate"] is False  # new URL in epoch 0
    assert rows[11]["is_duplicate"] is False  # fresh URL in epoch 1
    assert rows[90]["is_duplicate"] is True  # re-crawl caught
    assert rows[90]["hist_keeper"] == 10  # ...against the UPDATED store
    # intra-batch copy of a NEW canonical URL: flagged (round-12 fix),
    # with hist_keeper honestly NULL — history never saw the URL
    assert rows[91]["is_duplicate"] is True
    assert rows[91]["hist_keeper"] is None
    # the twin batch operator agrees on the canonical identity
    both = spark.createDataFrame(
        [(10, "a"), (90, "b")], "doc_id long, text string"
    )
    canon = {
        r["doc_id"]: r["url_canonical"] for r in _doc_urls(both).collect()
    }
    assert canon[10] == canon[90] == rows[90]["url_canonical"]
    # store: seed + the two admitted canonical URLs, one keeper each
    stored = {
        (r["url_canonical"], r["keeper"])
        for r in spark.read.option("mergeSchema", "true")
        .parquet(str(store))
        .select("url_canonical", "keeper")
        .collect()
    }
    assert {k for _, k in stored} == {5, 10, 11}


def test_continuous_dsir_filter_sharpens_across_epochs(spark, tmp_path):
    """Round-12: the DSIR ingest filter's bucket store must make
    epoch-1 verdicts depend on epoch-0 evidence: on the empty store
    every raw doc scores exactly 0.0 (uniform models, kept at the ≥0
    threshold); after epoch 0 appends a target doc and a raw doc, an
    epoch-1 raw doc that copies the TARGET text outscores one that
    copies the RAW text — and the epoch-1 verdicts equal a manual
    batch replay (_dsir_score against epoch-0 counts) exactly."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from finmapreduce_spark.queries.training import (
        DSIR_TARGET_LANG,
        _dsir_doc_buckets,
        _dsir_score,
    )
    from finmapreduce_spark.streaming.pipeline import (
        serve_dsir_filter_continuous,
    )

    t_text = "alpha beta gamma delta epsilon zeta"
    r_text = "uno dos tres cuatro cinco seis"
    landing = tmp_path / "dsir_landing"
    landing.mkdir()
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 1, "lang": "en", "text": t_text}) + "\n"
        + _json.dumps({"doc_id": 2, "lang": "de", "text": r_text}) + "\n"
    )
    (landing / "e1.json").write_text(
        _json.dumps({"doc_id": 10, "lang": "fr", "text": t_text}) + "\n"
        + _json.dumps({"doc_id": 11, "lang": "fr", "text": r_text}) + "\n"
    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    stream = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    store = tmp_path / "dsir_store"
    out = tmp_path / "dsir_verdicts"
    q = serve_dsir_filter_continuous(
        stream, str(store), str(out), str(tmp_path / "dsir_ckpt")
    ).start()
    q.awaitTermination()

    rows = {r["doc_id"]: r for r in spark.read.json(str(out)).collect()}
    assert set(rows) == {2, 10, 11}
    # epoch 0, empty store: uniform models, weight exactly 0, kept
    assert rows[2]["logw"] == 0.0 and rows[2]["keep"] is True
    # epoch 1: target-looking text outscores raw-looking text
    assert rows[10]["logw"] > 0.0 and rows[10]["keep"] is True
    assert rows[11]["logw"] < 0.0 and rows[11]["keep"] is False
    # exact batch-replay equality for the epoch-1 verdicts
    e0 = spark.createDataFrame(
        [(1, "en", t_text), (2, "de", r_text)],
        "doc_id long, lang string, text string",
    )
    e1 = spark.createDataFrame(
        [(10, "fr", t_text), (11, "fr", r_text)],
        "doc_id long, lang string, text string",
    )
    is_t = F.col("lang") == DSIR_TARGET_LANG
    hdb = _dsir_doc_buckets(spark, None, docs=e0)
    tb = hdb.filter(is_t).groupBy("b").agg(F.sum("c").alias("t"))
    rb = hdb.filter(~is_t).groupBy("b").agg(F.sum("c").alias("r"))
    tot = hdb.groupBy().agg(
        F.sum(F.when(is_t, F.col("c")).otherwise(0)).alias("t_tot"),
        F.sum(F.when(~is_t, F.col("c")).otherwise(0)).alias("r_tot"),
    )
    want = {
        r["doc_id"]: r["logw"]
        for r in _dsir_score(
            _dsir_doc_buckets(spark, None, docs=e1), tb, rb, tot
        ).collect()
    }
    assert rows[10]["logw"] == want[10]
    assert rows[11]["logw"] == want[11]
    spark.catalog.clearCache()


def test_continuous_hll_matches_batch_union(spark, tmp_path):
    """Round-12: the live HLL register store must make epoch-1's
    estimate EQUAL the batch twin's estimate over the union of both
    epochs — merge-then-estimate equals estimate-of-union (the sketch
    homomorphism), exactly, because the construction is md5-
    deterministic. Also: registers merge by max, so the store is
    replay-idempotent by construction."""
    import json as _json
    import os as _os
    import time as _time

    from finmapreduce_spark.queries.sketches import (
        _batch_hll_registers,
        _hll_estimate_from_regs,
    )
    from finmapreduce_spark.streaming.pipeline import (
        serve_hll_distinct_continuous,
    )

    landing = tmp_path / "hll_landing"
    landing.mkdir()
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 1, "text": "alpha beta gamma delta"}) + "\n"
    )
    (landing / "e1.json").write_text(
        _json.dumps({"doc_id": 2, "text": "gamma delta epsilon zeta eta"})
        + "\n"
    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "hll_out"
    q = serve_hll_distinct_continuous(
        stream,
        str(tmp_path / "hll_store"),
        str(out),
        str(tmp_path / "hll_ckpt"),
    ).start()
    q.awaitTermination()

    rows = {r["epoch"]: r for r in spark.read.json(str(out)).collect()}
    assert set(rows) == {0, 1}
    union = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "gamma delta epsilon zeta eta"),
        ],
        "doc_id long, text string",
    )
    want = _hll_estimate_from_regs(_batch_hll_registers(union)).collect()[0]
    assert rows[1]["hll_estimate"] == want["hll_estimate"]
    # epoch-0 estimate covers only epoch 0
    e0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    want0 = _hll_estimate_from_regs(_batch_hll_registers(e0)).collect()[0]
    assert rows[0]["hll_estimate"] == want0["hll_estimate"]
    spark.catalog.clearCache()


def test_dsir_store_replay_and_compaction_are_exact(spark, tmp_path):
    """Round-12: the DSIR increment store is the family's only
    SUM-merged store, so replay-idempotence is NOT free: a
    crashed-then-replayed epoch re-appends identical increment rows,
    and summing them raw would double-count. Pin all three guards:
    (a) the live read dedups (epoch, b), so manually double-appending
    an epoch's rows changes NOTHING about the scores a later epoch
    computes; (b) compact_dsir_store pre-sums with the same dedup and
    preserves the aggregated dictionaries exactly; (c) the HLL store
    compactor preserves its estimate (max is idempotent)."""
    from pyspark.sql import functions as F

    from finmapreduce_spark.queries.sketches import (
        _batch_hll_registers,
        _hll_estimate_from_regs,
    )
    from finmapreduce_spark.queries.training import _dsir_doc_buckets
    from finmapreduce_spark.sources.sinks import (
        compact_dsir_store,
        compact_hll_store,
    )
    from finmapreduce_spark.streaming.pipeline import (
        _prior_history,
        stamp_store_epoch,
    )

    store = str(tmp_path / "dsir_store")
    e0 = spark.createDataFrame(
        [(1, "en", "alpha beta gamma"), (2, "de", "uno dos tres")],
        "doc_id long, lang string, text string",
    )
    db = _dsir_doc_buckets(spark, None, docs=e0)
    is_t = F.col("lang") == "en"
    inc = db.groupBy("b").agg(
        F.sum(F.when(is_t, F.col("c")).otherwise(0)).alias("t_add"),
        F.sum(F.when(~is_t, F.col("c")).otherwise(0)).alias("r_add"),
    )
    stamp_store_epoch(inc, 0).write.mode("append").parquet(store)

    def dicts(epoch):
        hist = _prior_history(spark, store, epoch, dedupe_key=["b"])
        return sorted(
            (r["b"], r["t"], r["r"])
            for r in hist.groupBy("b")
            .agg(F.sum("t_add").alias("t"), F.sum("r_add").alias("r"))
            .collect()
        )

    want = dicts(epoch=5)
    # (a) simulate the crashed-epoch replay: identical rows, same stamp
    stamp_store_epoch(inc, 0).write.mode("append").parquet(store)
    assert dicts(epoch=5) == want
    # (b) compaction pre-sums with the same dedup
    stats = compact_dsir_store(spark, store)
    assert stats["rows_after"] <= stats["rows_before"]
    assert dicts(epoch=5) == want

    # (c) HLL store: max-merge, compaction preserves the estimate
    hstore = str(tmp_path / "hll_store")
    regs = _batch_hll_registers(e0)
    stamp_store_epoch(regs, 0).write.mode("append").parquet(hstore)
    stamp_store_epoch(regs, 0).write.mode("append").parquet(hstore)
    before = _hll_estimate_from_regs(
        _prior_history(spark, hstore, 5)
        .groupBy("b")
        .agg(F.max("reg").alias("reg"))
    ).collect()[0]["hll_estimate"]
    compact_hll_store(spark, hstore)
    after = _hll_estimate_from_regs(
        spark.read.parquet(hstore)
    ).collect()[0]["hll_estimate"]
    assert after == before
    spark.catalog.clearCache()


def test_prior_history_sealed_rows_exempt_from_sum_dedupe(spark, tmp_path):
    """r13 advice fix: the (epoch, key) replay-dedupe must apply only
    to STAMPED appends. Sealed rows (unstamped seeds / compacted
    rewrites) cannot be crash-replays, and in a SUM-merged store a
    multi-row-per-key seed is legitimate mass — collapsing it to one
    pseudo-epoch row would silently undercount."""
    from pyspark.sql import functions as F

    from finmapreduce_spark.streaming.pipeline import (
        _prior_history,
        stamp_store_epoch,
    )

    store = str(tmp_path / "seeded_sum_store")
    # unstamped seed: TWO rows for key b=7 (legitimate mass: 10 + 5)
    spark.createDataFrame(
        [(7, 10), (7, 5), (9, 2)], "b long, c_add long"
    ).write.mode("append").parquet(store)
    # one stamped epoch, then its crashed replay (identical rows)
    inc = spark.createDataFrame([(7, 1), (9, 1)], "b long, c_add long")
    stamp_store_epoch(inc, 0).write.mode("append").parquet(store)
    stamp_store_epoch(inc, 0).write.mode("append").parquet(store)

    def totals():
        return {
            r["b"]: r["c"]
            for r in _prior_history(spark, store, 5, dedupe_key=["b"])
            .groupBy("b")
            .agg(F.sum("c_add").alias("c"))
            .collect()
        }

    # sealed 10+5 both kept; stamped replay deduped to one
    assert totals() == {7: 16, 9: 3}
    # the OFFLINE rewrite shares the posture: compacting a store whose
    # sealed seed has multiple rows per key must preserve the sums
    # (the naive dropDuplicates(['epoch_id', key]) would collapse the
    # NULL-epoch seed rows — r13 self-audit fix in sinks.py)
    from finmapreduce_spark.sources.sinks import _compact_store
    from finmapreduce_spark.sources.sinks import _dedupe_stamped_sum_rows

    stats = _compact_store(
        spark,
        store,
        1,
        rewrite=lambda d: _dedupe_stamped_sum_rows(d, ["b"])
        .groupBy("b")
        .agg(F.sum("c_add").alias("c_add")),
        probe_key="b",
        keep_epoch=True,
    )
    assert stats["rows_after"] <= stats["rows_before"]
    assert totals() == {7: 16, 9: 3}
    spark.catalog.clearCache()


def test_continuous_cms_watchlist_accumulates_and_overestimates(
    spark, tmp_path
):
    """Round-12: the live count-min store must (a) accumulate across
    epochs — the epoch-1 estimate covers both epochs' tokens, (b)
    keep the est ≥ true guarantee over the union, and (c) share the
    sum-store replay posture (the read dedups (epoch, j, b), pinned
    here by the epoch-1 estimate being exact for a collision-free
    token despite the store being read after epoch 0's append)."""
    import json as _json
    import os as _os
    import time as _time

    from finmapreduce_spark.streaming.pipeline import (
        serve_cms_watchlist_continuous,
    )

    landing = tmp_path / "cms_landing"
    landing.mkdir()
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 1, "text": "alert alert normal words"}) + "\n"
    )
    (landing / "e1.json").write_text(
        _json.dumps({"doc_id": 2, "text": "alert words words zzz"}) + "\n"
    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "cms_out"
    q = serve_cms_watchlist_continuous(
        stream,
        ["alert", "absenttoken", " Alert "],
        str(tmp_path / "cms_store"),
        str(out),
        str(tmp_path / "cms_ckpt"),
    ).start()
    q.awaitTermination()

    rows = {
        (r["epoch"], r["token"]): r["cms_estimate"]
        for r in spark.read.json(str(out)).collect()
    }
    # epoch 0: 'alert' ×2; epoch 1 adds one more → 3 over the union
    assert rows[(0, "alert")] >= 2
    assert rows[(1, "alert")] >= 3
    assert rows[(1, "alert")] >= rows[(0, "alert")]  # sums accumulate
    # the absent token can only be a bloom-of-collisions overestimate,
    # and with this tiny vocabulary its cells are untouched → exactly 0
    assert rows[(1, "absenttoken")] == 0
    # r13 advice fix: a mixed-case / padded watchlist entry probes the
    # normalized cells (same trim+lower as the corpus tokenizer) and
    # reports under the caller's original spelling
    assert rows[(1, " Alert ")] == rows[(1, "alert")]
    # compaction pre-sums the cell store without changing any probe:
    # re-derive the 'alert' estimate from the compacted cells
    from finmapreduce_spark.queries.sketches import CMS_DEPTH, _hex3
    from finmapreduce_spark.sources.sinks import compact_cms_store

    stats = compact_cms_store(spark, str(tmp_path / "cms_store"))
    assert stats["rows_after"] <= stats["rows_before"]
    cells = spark.read.parquet(str(tmp_path / "cms_store"))
    probe = spark.createDataFrame(
        [("alert", j) for j in range(CMS_DEPTH)], "w string, j int"
    ).select(
        "w", "j",
        _hex3(F.md5(F.concat_ws(":", F.col("j"), F.col("w"))), 1).alias("b"),
    )
    est = (
        probe.join(cells, ["j", "b"], "left")
        .groupBy("w")
        .agg(F.min(F.coalesce("c_add", F.lit(0))).alias("e"))
        .collect()[0]["e"]
    )
    assert est == rows[(1, "alert")]
    spark.catalog.clearCache()


def test_continuous_quantile_sketch_matches_batch_twin(spark, tmp_path):
    """r13: the live quantile-sampler store must be the batch twin's
    equal — after N epochs the emitted percentile estimates equal
    sketch_quantile_doclen's selection run over the UNION of all
    epochs' docs (L is non-decreasing, so rows admitted early are a
    superset of any later refilter's needs), and the compactor must
    preserve the estimates while pruning below the current L."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from finmapreduce_spark.queries.sketches import (
        QSK_PCTS,
        _qsk_base,
        _qsk_select,
        _qsk_threshold,
    )
    from finmapreduce_spark.sources.sinks import compact_quantile_store
    from finmapreduce_spark.streaming.pipeline import (
        serve_quantile_sketch_continuous,
    )

    landing = tmp_path / "qsk_landing"
    landing.mkdir()
    docs0 = [(i, "w " * (i % 37 + 1)) for i in range(0, 400)]
    docs1 = [(i, "w " * (i % 53 + 1)) for i in range(400, 900)]
    for name, docs in [("e0.json", docs0), ("e1.json", docs1)]:
        (landing / name).write_text(
            "\n".join(
                _json.dumps({"doc_id": d, "text": t.strip()})
                for d, t in docs
            )
            + "\n"
        )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    store = tmp_path / "qsk_store"
    out = tmp_path / "qsk_out"
    q = serve_quantile_sketch_continuous(
        stream, str(store), str(out), str(tmp_path / "qsk_ckpt")
    ).start()
    q.awaitTermination()

    got = {
        (r["epoch"], r["percentile"]): (
            r["sketch_value"],
            r["n_retained"],
            r["level"],
        )
        for r in spark.read.json(str(out)).collect()
    }
    assert len(got) == 2 * len(QSK_PCTS)

    # batch twin over the union of both epochs
    union = spark.createDataFrame(
        [(d, t.strip()) for d, t in docs0 + docs1],
        "doc_id long, text string",
    )
    base = _qsk_base(union).persist()
    thr = _qsk_threshold(
        base.groupBy("lvl").agg(F.count("*").alias("c"))
    )
    samp = base.join(F.broadcast(thr), F.col("lvl") >= F.col("L"))
    pcts = spark.createDataFrame(
        [(p,) for p in QSK_PCTS], "percentile double"
    )
    want = {
        r["percentile"]: (r["sketch_value"], r["n_retained"])
        for r in _qsk_select(samp.select("doc_id", "val"), pcts).collect()
    }
    for p in QSK_PCTS:
        sv, nr, _lvl = got[(1, p)]
        assert (sv, nr) == want[p]

    # compaction preserves the final estimates and prunes below L
    stats = compact_quantile_store(spark, str(store))
    assert stats["sample_rows_after"] <= stats["sample_rows_before"]
    totals = spark.read.parquet(str(store / "levels")).select(
        "lvl", F.col("c_add").alias("c")
    )
    l_now = _qsk_threshold(totals).collect()[0]["L"]
    sample_rows = spark.read.parquet(str(store / "sample"))
    assert sample_rows.filter(F.col("lvl") < l_now).count() == 0
    got2 = {
        r["percentile"]: (r["sketch_value"], r["n_retained"])
        for r in _qsk_select(
            sample_rows.select("doc_id", "val"), pcts
        ).collect()
    }
    assert got2 == want
    spark.catalog.clearCache()


def test_continuous_phash_store_rejects_reuploaded_image(spark, tmp_path):
    """r13: the live image-phash store. Epoch 0 admits image assets;
    epoch 1 contains a BYTE-IDENTICAL re-upload (doc_id ≡ epoch-0
    doc mod 2304 ⇒ identical synth pixels ⇒ identical dHash) which
    must be rejected with hist_asset pointing at the epoch-0 admit
    and hamming 0, while a fresh image admits. Epoch-0 verdicts are
    all non-duplicate (empty store)."""
    import json as _json
    import os as _os
    import time as _time

    from finmapreduce_spark.streaming.pipeline import (
        serve_incremental_phash_continuous,
    )

    landing = tmp_path / "ph_landing"
    landing.mkdir()
    # doc_ids ≡ 0 mod 3 are images; 600000 and 602304 are clones
    e0 = [{"doc_id": 600000, "text": "a"}, {"doc_id": 9, "text": "b"}]
    e1 = [{"doc_id": 602304, "text": "c"}, {"doc_id": 12, "text": "d"}]
    (landing / "e0.json").write_text(
        "\n".join(_json.dumps(r) for r in e0) + "\n"
    )
    (landing / "e1.json").write_text(
        "\n".join(_json.dumps(r) for r in e1) + "\n"
    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out = tmp_path / "ph_out"
    q = serve_incremental_phash_continuous(
        stream,
        str(tmp_path / "ph_store"),
        str(out),
        str(tmp_path / "ph_ckpt"),
    ).start()
    q.awaitTermination()

    rows = {
        (r["epoch_id"], r["asset_id"]): (
            r["is_duplicate"],
            r["hist_asset"],
            r["hamming"],
        )
        for r in spark.read.json(str(out)).collect()
    }
    # epoch 0: both images admitted (store empty)
    assert rows[(0, 600000)] == (False, None, None)
    assert rows[(0, 9)] == (False, None, None)
    # epoch 1: the clone is rejected against the epoch-0 admit
    assert rows[(1, 602304)] == (True, 600000, 0)
    # the fresh image admits (no near-dup in a 2-image store)
    assert rows[(1, 12)][0] is False
    # store holds band rows only for ADMITTED assets
    store = spark.read.parquet(str(tmp_path / "ph_store"))
    admitted = {r["asset_id"] for r in store.select("asset_id").collect()}
    assert admitted == {600000, 9, 12}
    # compaction dedupes/sorts without changing the admitted set
    from finmapreduce_spark.sources.sinks import compact_phash_store

    stats = compact_phash_store(spark, str(tmp_path / "ph_store"))
    assert stats["rows_after"] <= stats["rows_before"]
    after = {
        r["asset_id"]
        for r in spark.read.parquet(str(tmp_path / "ph_store"))
        .select("asset_id")
        .collect()
    }
    assert after == admitted
    spark.catalog.clearCache()


# slow (≈35 s): multi-epoch continuous weights vs the batch twin; the
# batch DoReMi oracle runs by default.
@pytest.mark.slow
def test_continuous_doremi_weights_match_batch_twin(spark, tmp_path):
    """The mixture lane's continuous twin (r13 verdict next-round #7):
    epochs append (source, b, c_add) increments; the final epoch's
    emitted weights must equal the batch catalog query
    mixture_doremi_weights run over the union corpus — merge-then-
    solve equals solve-over-union because the multiplicative-weights
    algebra runs on the SUMMED count table either way. Also pins the
    compactor: pre-summing the store changes nothing about the
    weights recomputed from it."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from finmapreduce_spark.queries.training import (
        doremi_weights_from_counts,
        mixture_doremi_weights,
    )
    from finmapreduce_spark.sources.sinks import compact_doremi_store
    from finmapreduce_spark.streaming.pipeline import (
        _prior_history,
        serve_doremi_weights_continuous,
    )

    rows = [
        (1, "alpha beta gamma alpha", "en", "web"),
        (2, "beta beta delta", "en", "web"),
        (3, "gamma delta epsilon", "de", "books"),
        (4, None, "en", "web"),  # NULL text must be ignored, not crash
        (5, "zeta eta theta alpha", "fr", "news"),
        (6, "alpha alpha alpha beta", "en", "books"),
    ]
    schema = "doc_id long, text string, lang string, source string"
    landing = tmp_path / "drm_landing"
    landing.mkdir()
    half = 3
    now = _time.time()
    for i, chunk in enumerate((rows[:half], rows[half:])):
        p = landing / f"e{i}.json"
        p.write_text(
            "\n".join(
                _json.dumps(
                    dict(zip(("doc_id", "text", "lang", "source"), r))
                )
                for r in chunk
            )
            + "\n"
        )
        _os.utime(p, (now - 60 * (2 - i), now - 60 * (2 - i)))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    store = tmp_path / "drm_store"
    out = tmp_path / "drm_out"
    q = serve_doremi_weights_continuous(
        stream, str(store), str(out), str(tmp_path / "drm_ckpt")
    ).start()
    q.awaitTermination()

    got = spark.read.json(str(out)).collect()
    by_epoch = {}
    for r in got:
        by_epoch.setdefault(r["epoch"], {})[r["source"]] = r
    assert set(by_epoch) == {0, 1}
    # epoch 0 saw only web+books; epoch 1 sees all three domains
    assert set(by_epoch[0]) == {"web", "books"}
    assert set(by_epoch[1]) == {"web", "books", "news"}

    # batch twin: the actual catalog query over the union corpus
    docs_dir = tmp_path / "drm_tables"
    docs_dir.mkdir()
    spark.createDataFrame(rows, schema).withColumn(
        "n_chars", F.coalesce(F.length("text"), F.lit(0)).cast("long")
    ).coalesce(1).write.parquet(str(docs_dir / "documents.parquet"))
    want = {
        r["source"]: r
        for r in mixture_doremi_weights(spark, str(docs_dir)).collect()
    }
    assert set(want) == set(by_epoch[1])
    for src, w in want.items():
        g = by_epoch[1][src]
        assert g["n_tokens"] == w["n_tokens"], src
        assert g["excess_r1"] == w["excess_r1"], src
        assert g["excess_r2"] == w["excess_r2"], src
        assert g["weight"] == w["weight"], src
    spark.catalog.clearCache()

    # compactor: pre-summed store reproduces the same weights
    pre = (
        _prior_history(spark, str(store), 99, dedupe_key=["source", "b"])
        .groupBy("source", "b")
        .agg(F.sum("c_add").alias("c"))
    )
    w_pre = {
        r["source"]: r["weight"]
        for r in doremi_weights_from_counts(spark, pre, persist=False)
        .select("source", "weight")
        .collect()
    }
    res = compact_doremi_store(spark, str(store))
    assert res["rows_after"] <= res["rows_before"]
    post = (
        _prior_history(spark, str(store), 99, dedupe_key=["source", "b"])
        .groupBy("source", "b")
        .agg(F.sum("c_add").alias("c"))
    )
    w_post = {
        r["source"]: r["weight"]
        for r in doremi_weights_from_counts(spark, post, persist=False)
        .select("source", "weight")
        .collect()
    }
    assert w_pre == w_post
    assert {s: r["weight"] for s, r in by_epoch[1].items()} == w_post
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "mode",
    [
        "dedup", "substring", "semantic", "url", "phash",
        "dsir", "hll", "quantile", "cms", "doremi",
    ],
)
def test_continuous_epoch_releases_frames_when_append_fails(
    spark, tmp_path, monkeypatch, mode
):
    """Every ingest mode releases the frames its epoch persisted even
    when the store append raises: a long-running ingest must not keep
    one cached frame per failed epoch."""
    from pyspark.errors import StreamingQueryException

    from finmapreduce_spark import ingest
    from finmapreduce_spark.streaming import pipeline as P

    def failing_append(df, store_dir, epoch_id):
        raise RuntimeError("store append failed")

    monkeypatch.setattr(P, "_guarded_store_append", failing_append)
    landing = tmp_path / "landing"
    landing.mkdir()
    # doc_ids ≡ 0 mod 3 carry images (phash); one target-language and
    # one raw doc (dsir)
    rows = [
        {
            "doc_id": d,
            "text": " ".join(f"w{d}x{i}" for i in range(80)),
            "lang": lang,
            "source": "web",
        }
        for d, lang in ((3, "en"), (6, "de"), (9, "en"))
    ]
    (landing / "e0.json").write_text(
        "".join(json.dumps(r) + "\n" for r in rows)
    )
    spark.catalog.clearCache()
    with pytest.raises(StreamingQueryException, match="store append failed"):
        ingest.run(
            spark,
            mode,
            str(landing),
            str(tmp_path / "store"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            watchlist=["w3x1"],
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
