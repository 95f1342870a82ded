"""Structured Streaming serving mode (SURVEY §2.9 extension).

The reference's only "streaming" surface is the webapp's
one-request-at-a-time ``process_single_qa_async``
(webapp/backend/api/endpoints.py:273). The Spark-native serving
analogue: ``readStream`` on a landing directory of QA requests →
the same batch DAG inside ``foreachBatch`` (exactly-once per
micro-batch) → results sink. Plus the temporal surface the reference
lacks: watermarked tumbling-window usage/rate rollups over an events
stream (the batch twin is queries/relational.py:hourly_event_rollup,
which the DuckDB oracle checks).

Everything here reuses the batch plan objects — one definition of the
DAG, two execution modes. That is the point of expressing the
pipeline declaratively: Structured Streaming runs the same logical
plan incrementally.

Every foreachBatch ``serve_*`` mode runs on ONE epoch driver,
``_serve_epochs``: it owns the writer, the empty-batch skip, the
live-store writer guard, the cold-start history read (which also
recovers a store whose compaction was cut between its two renames),
the append and the release of every frame the epoch persisted. A mode
states only how to sign the batch, how to decide, and what to emit
and append.
"""

from __future__ import annotations

import os
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from finmapreduce_spark.operators.checkpoints import keep, scratch
from finmapreduce_spark.operators.pairgrid import grid_cross_pairs
from finmapreduce_spark.sources.sinks import (
    CMS_REPLAY_KEY,
    DOREMI_REPLAY_KEY,
    DSIR_REPLAY_KEY,
    QUANTILE_LEVELS_REPLAY_KEY,
    _dedupe_stamped_sum_rows,
    _rollback_dir,
    recover_swap,
    store_writer,
)


def _epoch_json(df: DataFrame, out_dir: str, epoch_id: int) -> None:
    """Idempotent per-epoch JSON sink for foreachBatch writers.

    foreachBatch is at-least-once between the sink write and the
    checkpoint commit: a crash in that window replays the epoch, and a
    plain append would re-emit identical rows with no compaction to
    ever remove them. Writing each epoch to its own partition
    directory (``out_dir/epoch_id=N``, mode=overwrite) makes a replay
    overwrite its previous attempt instead. Readers load the whole
    directory; ``epoch_id`` comes back as the partition column.
    """
    df.write.mode("overwrite").json(os.path.join(out_dir, f"epoch_id={epoch_id}"))


# Landing-directory request schema (webapp upload surface S10)
REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("qa_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("question", T.StringType(), False),
        T.StructField("answer", T.StringType(), True),
        T.StructField("submitted_at", T.TimestampType(), True),
    ]
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_request_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream of JSON QA requests (one file per upload,
    the S10 webapp surface). maxFilesPerTrigger bounds micro-batch
    size so LLM concurrency stays within the rate budget."""
    return (
        spark.readStream.schema(REQUEST_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .json(landing_dir)
    )


# ---------------------------------------------------------------------------
# The epoch driver. Each foreachBatch serve_* mode is one call to
# _serve_epochs with an ``epoch(ep) -> (emit, appends)`` function: sign
# the micro-batch, decide, and return the frame to emit (None: nothing)
# and the (frame, store_dir) pairs to append. _serve_epochs runs the rest
# of the per-epoch protocol, in this order: skip an empty batch, enter
# every declared store's writer guard (fails fast on a compaction
# lock; a compactor starting mid-epoch refuses), run the mode, write
# ``emit`` to ``out_dir/epoch_id=N``, append each frame, and — on
# success or failure — release every frame the epoch kept: each epoch
# runs in one scratch block (operators/checkpoints.py), and mode code
# persists through ``keep``. Releasing here, not with clearCache,
# keeps a static mode's shared history store cached across epochs.
# ---------------------------------------------------------------------------

class _Epoch:
    """One non-empty micro-batch as a serve_* mode sees it."""

    def __init__(self, batch: DataFrame, epoch_id: int, stores: dict):
        self.batch = batch
        self.epoch_id = epoch_id
        self.spark = batch.sparkSession
        self.stores = stores

    def history(self, store_dir: str, like: DataFrame) -> DataFrame:
        """A declared store's rows visible to this epoch: empty (with
        ``like``'s schema) before the first append, else everything
        except this epoch's own crashed-attempt appends, with a SUM
        store's replayed increments dropped on its dedupe key."""
        return _history_or_empty(
            self.spark, store_dir, self.epoch_id, like, self.stores[store_dir]
        )


def _serve_epochs(
    stream: DataFrame,
    checkpoint_dir: str,
    out_dir: str | None,
    stores: dict[str, list[str] | None],
    epoch,
):
    """The foreachBatch writer every serve_* mode returns (not yet
    started; trigger availableNow).

    ``stores`` maps each live-store directory the mode reads and
    appends to its replay dedupe key: a column list for SUM-merged
    stores (see _prior_history), None for the rest; static modes pass
    no stores."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ep = _Epoch(batch_df, epoch_id, stores)
        with ExitStack() as guards:
            for store_dir in stores:
                # the append marker and the compaction lock sit BESIDE
                # the store directory, so its parent must exist
                parent = os.path.dirname(store_dir.rstrip("/"))
                os.makedirs(parent or ".", exist_ok=True)
                guards.enter_context(store_writer(store_dir))
            with scratch():
                emit, appends = epoch(ep)
                if emit is not None:
                    _epoch_json(emit, out_dir, epoch_id)
                for df, store_dir in appends:
                    _guarded_store_append(df, store_dir, epoch_id)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def serve_mapreduce(
    requests: DataFrame,
    docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    cfg=None,
):
    """foreachBatch serving: each micro-batch of QA requests runs the
    identical batch DAG (plans/mapreduce.py) and appends JSON results.

    foreachBatch gives exactly-once per epoch with the checkpoint; the
    LLM stages stay idempotent via the deterministic request key
    (qa_id), so a replayed epoch re-emits identical rows.
    """
    from finmapreduce_spark.plans.mapreduce import MapReduceConfig, run_mapreduce

    cfg = cfg or MapReduceConfig()

    def epoch(ep: _Epoch):
        # under persist_llm_outputs (the real-client posture) each
        # epoch keeps mapped/reduced — _serve_epochs releases them, or
        # a long-running stream would accumulate cached frames
        stages = run_mapreduce(ep.batch.drop("submitted_at"), docs, cfg)
        return stages["answers"], []

    return _serve_epochs(requests, checkpoint_dir, out_dir, {}, epoch)


def serve_incremental_dedup(
    incoming_docs: DataFrame,
    history_buckets: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous ingest dedup: each micro-batch of incoming documents
    is signed (shingles → minhash → band keys; all narrow ops) and
    probed against the STATIC history signature store; verdicts append
    as JSON. The batch twin is queries/dedup.py::
    dedup_incremental_vs_history — both call the same
    band_signature_table / incremental_verdicts helpers, so stream and
    batch produce identical verdicts for identical inputs (twin-tested
    in tests/test_streaming.py).

    Scale: the stream side is a delta (bounded by maxFilesPerTrigger);
    history_buckets is the persisted store — broadcast when it fits,
    shuffled stream-static join when it doesn't. In production the
    admitted docs' signatures append back to the store each epoch
    (exactly-once via the checkpoint), keeping the store current.
    """
    from finmapreduce_spark.queries.dedup import (
        band_signature_table,
        incremental_verdicts,
    )

    def epoch(ep: _Epoch):
        incoming = band_signature_table(ep.batch)
        return incremental_verdicts(incoming, history_buckets), []

    return _serve_epochs(incoming_docs, checkpoint_dir, out_dir, {}, epoch)


def serve_incremental_passages(
    incoming_docs: DataFrame,
    gram_store: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous ingest PASSAGE dedup: each micro-batch of incoming
    documents is gram-hashed (narrow ops) and probed against the
    STATIC df-capped gram store; maximal shared spans append as JSON.
    The batch twin is queries/dedup.py::dedup_incremental_passages —
    both call the same passage_gram_table / incremental_passage_spans
    helpers, so stream and batch produce identical spans for
    identical inputs (twin-tested in tests/test_streaming.py).

    Scale: per-trigger cost is |batch grams| × store hit rate — the
    store side of the join is the persisted table, the delta side is
    bounded by maxFilesPerTrigger. Admitted docs' grams append back
    to the store per epoch in the continuous variant of this pattern
    (see serve_incremental_dedup_continuous for the epoch-append +
    compaction lifecycle, which applies unchanged here)."""
    from finmapreduce_spark.queries.dedup import (
        incremental_passage_spans,
        passage_gram_table,
    )

    def epoch(ep: _Epoch):
        grams = passage_gram_table(ep.batch)
        return incremental_passage_spans(grams, gram_store), []

    return _serve_epochs(incoming_docs, checkpoint_dir, out_dir, {}, epoch)


def serve_incremental_substring(
    incoming_docs: DataFrame,
    history_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    history_fps: DataFrame | None = None,
):
    """Continuous ingest EXACT-SUBSTRING dedup: each micro-batch of
    incoming documents winnows itself (k-gram hashes → per-window min
    fingerprints; narrow ops) and probes the STATIC history
    fingerprint store; verbatim-overlap pairs with shared-gram counts
    append as JSON. The batch twin is queries/dedup.py::
    dedup_incremental_substring — both call
    incremental_substring_pairs, so stream and batch produce
    identical pairs for identical inputs (twin-tested in
    tests/test_streaming.py).

    Pass ``history_fps`` (persisted substring_fp_table over history)
    so the store is built once, not per epoch; ``history_docs`` stays
    needed for the exact gram verify, which touches only fp-hit
    history docs — per-trigger cost is |batch| winnow + probe × hit
    rate, the same delta-sized contract as the other incremental
    families."""
    from finmapreduce_spark.queries.dedup import incremental_substring_pairs

    def epoch(ep: _Epoch):
        pairs = incremental_substring_pairs(
            ep.batch, history_docs, history_fps=history_fps
        )
        return pairs, []

    return _serve_epochs(incoming_docs, checkpoint_dir, out_dir, {}, epoch)


SUBSTR_MAX_CONTAINMENT = 0.5
PASSAGE_MAX_COVERAGE = 0.5


def serve_incremental_substring_continuous(
    incoming_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """EXACT-SUBSTRING ingest dedup with a LIVE fingerprint store —
    the winnowing member of the continuous-store family. Each epoch:
    winnow the micro-batch (substring_fp_table — the store schema),
    probe the store, and score each incoming doc's WINNOW CONTAINMENT
    = fraction of its selected fingerprints already present in
    history (the MOSS-style overlap score; a verbatim copy scores
    ~1.0, fresh text ~0.0). Docs above SUBSTR_MAX_CONTAINMENT are
    rejected (verdict rows append as JSON with their scores); the
    ADMITTED docs' fingerprints append back, so a doc admitted in
    epoch N rejects its verbatim copy in epoch N+1 (cross-epoch pin
    in tests). Containment is fingerprint-level — the cheap streaming
    gate; batch-side exact verification (the L-gram join) remains the
    offline arbiter, same division as bands-vs-verify in the LSH
    family.

    Replay/locking posture is identical to
    serve_incremental_dedup_continuous: _prior_history excludes this
    epoch's own crashed-attempt appends (keyed on epoch_id, so a doc
    resubmitted in a LATER epoch still matches its prior rows),
    appends run under the append-marker/compaction-lock guard, and
    compact_fp_store rewrites the accreted epoch files.

    Scale: per-epoch cost is |delta| winnow + one semi-join against
    the store's distinct fingerprints; the store grows by
    admitted-delta and its probe join skips on fp min/max after the
    compactor's sorted rewrite."""
    from finmapreduce_spark.queries.dedup import (
        _substring_base,
        substring_fp_table,
    )

    def epoch(ep: _Epoch):
        inc_fps = keep(substring_fp_table(_substring_base(ep.batch)))
        # no (doc_id, fp) dedup here: the probe only consumes the
        # DISTINCT fp set, which subsumes it (round-10 review —
        # the extra dedup was a redundant whole-store shuffle per
        # epoch; the band twin needs its row-level dedup because
        # its history rows feed a fan-out join, ours do not)
        history = ep.history(store_dir, inc_fps)
        totals = inc_fps.groupBy("doc_id").agg(F.count("*").alias("n_fps"))
        hits = (
            inc_fps.join(history.select("fp").distinct(), "fp")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hit"))
        )
        n_hit = F.coalesce("n_hit", F.lit(0))
        scored = totals.join(hits, "doc_id", "left").select(
            "doc_id",
            "n_fps",
            n_hit.alias("n_hit"),
            F.round(n_hit / F.col("n_fps"), 6).alias("containment"),
        )
        rejected = keep(
            scored.filter(F.col("containment") > SUBSTR_MAX_CONTAINMENT)
        )
        admitted = inc_fps.join(rejected.select("doc_id"), "doc_id", "left_anti")
        return rejected, [(admitted, store_dir)]

    return _serve_epochs(
        incoming_docs, checkpoint_dir, out_dir, {store_dir: None}, epoch
    )


def serve_incremental_passages_continuous(
    incoming_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous ingest PASSAGE dedup with a LIVE gram store — the
    passage-level twin of serve_incremental_dedup_continuous. Each
    epoch: gram-hash the micro-batch, probe it against the store for
    maximal shared spans (appended as JSON with the epoch id), then
    apply the ADMIT POLICY — union the incoming-side span intervals per
    doc (the same interval sweep as dedup_passage_coverage) and reject
    docs whose duplicated-word fraction exceeds PASSAGE_MAX_COVERAGE;
    the admitted docs' per-doc-capped grams append back to the store,
    so a passage admitted in epoch N is detected verbatim in epoch N+1
    (cross-epoch pin in tests).

    Append-time caps: only the per-doc occurrence cap can be applied on
    the delta (the df cap needs whole-store counts) — df drift across
    epochs is re-applied by compact_gram_store, exactly the lifecycle
    the band-signature store uses.

    Scale: per-epoch cost is |delta grams| × store hit rate for the
    probe plus the coverage sweep on matched spans only; the store-side
    scan skips on h min/max after compaction's sorted rewrite."""
    from finmapreduce_spark.queries.dedup import (
        _capped_occurrences,
        _words,
        incremental_passage_spans,
        interval_union_coverage,
        passage_gram_table,
    )

    def epoch(ep: _Epoch):
        grams = keep(passage_gram_table(ep.batch))
        # Replay-duplicate and df-drift guards on the probed slice
        # of the store live inside incremental_passage_spans; the
        # epoch filter in the history read removes the batch's OWN
        # grams appended by a crashed attempt of THIS epoch —
        # otherwise every replayed doc matches itself as a
        # full-length verbatim span and the epoch rewrite commits
        # 100%-coverage false rejections. Keyed on epoch_id, not
        # doc_id, so a doc resubmitted in a later epoch still matches
        # its own prior-epoch grams (verbatim dup → rejected).
        history = ep.history(store_dir, grams)
        spans = keep(incremental_passage_spans(grams, history))
        iv = spans.select(
            "doc_id",
            F.col("a_start").alias("s"),
            (F.col("a_start") + F.col("n_words") - 1).alias("e"),
        )
        totals = ep.batch.select(
            "doc_id",
            F.size(_words(F.col("text"))).cast("long").alias("total_words"),
        )
        rejected = (
            interval_union_coverage(iv)
            .join(totals, "doc_id")
            .filter(
                F.col("covered_words") / F.col("total_words")
                > F.lit(PASSAGE_MAX_COVERAGE)
            )
            .select("doc_id")
        )
        admitted = (
            _capped_occurrences(grams)
            .join(rejected, "doc_id", "left_anti")
            .select("doc_id", F.explode("poss").alias("pos"), "h")
        )
        return spans, [(admitted, store_dir)]

    return _serve_epochs(
        incoming_docs, checkpoint_dir, out_dir, {store_dir: None}, epoch
    )


def windowed_event_rollup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window rollup over a (possibly late)
    event stream — 1-hour windows per event_type.

    In append mode a window emits once its watermark passes: late
    events within the watermark still count; older ones drop. The
    batch twin (hourly_event_rollup) is oracle-checked; streaming
    equivalence is asserted in tests by running this same plan over a
    file stream and comparing to the batch result.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_stream_attribution(
    events_a: DataFrame,
    events_b: DataFrame,
    window_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase (stream B)
    to every click (stream A) by the same user within the preceding
    ``window_minutes``.

    Both sides carry watermarks + the time-range predicate, so Spark
    can bound the join state: clicks older than purchase-side watermark
    minus the window are evicted instead of accumulating forever —
    the state-retention contract that makes a stream-stream join
    runnable on an unbounded feed. The batch twin is the band join
    (queries/temporal.py::range_join_band_count shape).
    """
    clicks = (
        events_a.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events_b.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES")
        )
    )
    return purchases.join(clicks, cond).select(
        "purchase_id", "user_id", "purchase_ts", "click_id", "click_ts"
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once ingest dedup: drop replayed event_ids within the
    watermark horizon (at-least-once upstream delivery → exactly-once
    downstream, the first stage of any streaming training-data feed).

    ``dropDuplicatesWithinWatermark`` keeps state per key only until
    the watermark passes — bounded memory on an unbounded stream,
    unlike plain dropDuplicates which would grow state forever.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("session_value", T.DoubleType(), True),
        T.StructField("session_start", T.StringType(), True),
    ]
)

# Tuple state: (session_id, n_events, value_sum, start_us, last_us)
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("value_sum", T.DoubleType(), True),
        T.StructField("start_us", T.LongType(), True),
        T.StructField("last_us", T.LongType(), True),
    ]
)

SESSION_GAP_US = 3600 * 1_000_000  # 1 hour, matching the batch twin


def stateful_sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful operator: incremental sessionization with
    ``applyInPandasWithState`` (per-user session split on >1h gaps —
    the streaming twin of queries/relational.py:sessionize_events).

    State per user is ONE open session (5 scalars), independent of
    history length — this is what makes it run forever on an
    unbounded stream where the batch window-function formulation
    cannot. A session is emitted when the next event closes it; the
    tail session stays in state awaiting more input (tests compare
    against batch output minus each user's final session).

    Scale: state is hash-partitioned by user_id across executors;
    per-key state is O(1); a micro-batch shuffles once on user_id.
    """
    import pandas as pd  # local: executors import lazily

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts", "event_id"])
        if state.exists:
            sid, n, vs, start_us, last_us = state.get
        else:
            sid, n, vs, start_us, last_us = 0, 0, 0.0, None, None
        out = []

        def emit():
            start = pd.Timestamp(start_us, unit="us")
            out.append(
                (key[0], sid, n, round(vs, 4), start.strftime("%Y-%m-%d %H:%M:%S"))
            )

        for ts, eid, val in zip(rows["ts"], rows["event_id"], rows["value"]):
            ts_us = ts.value // 1000  # pandas ns -> µs
            if last_us is None or ts_us > last_us + SESSION_GAP_US:
                if n > 0:
                    emit()
                sid, n, vs, start_us = sid + 1, 0, 0.0, ts_us
            n += 1
            vs += float(val) if val == val else 0.0
            last_us = ts_us
        state.update((sid, n, vs, start_us, last_us))
        yield pd.DataFrame(out, columns=[f.name for f in SESSION_OUT_SCHEMA.fields])

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(
    spark: SparkSession, df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a streaming DataFrame to completion against a memory sink
    (test/smoke harness; availableNow processes all pending input).

    Note on modes: in ``append`` a watermarked window only emits once
    the watermark passes it — after the final input there is no later
    event to advance the watermark, so the trailing window(s) stay
    pending forever. Use ``complete`` when the test needs every
    window materialized.
    """
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")

# ---------------------------------------------------------------------------
# Live-store epoch stamping: every continuous-ingest append carries the
# epoch_id that wrote it, and each epoch's probe excludes ONLY rows
# stamped with its own epoch — i.e., rows a crashed attempt of this
# very epoch appended. Rows from other epochs (including a prior
# legitimate submission of the SAME doc_id) stay in history, so a
# resubmitted exact duplicate is rejected instead of silently admitted
# (the over-broad doc_id anti-join this replaces removed those too).
# Seeded and compacted stores carry no epoch column — implicitly
# SEALED: a store is bound to one checkpoint lineage, and compaction
# (which drops the stamp) is the documented step before pointing a
# FRESH checkpoint (epoch ids restart at 0) at an existing store.
# ---------------------------------------------------------------------------

def stamp_store_epoch(df: DataFrame, epoch_id: int) -> DataFrame:
    """Stamp store rows with the epoch that appends them."""
    return df.withColumn("epoch_id", F.lit(int(epoch_id)).cast("long"))


def _guarded_store_append(df: DataFrame, store_dir: str, epoch_id: int) -> None:
    """Append epoch-stamped rows to a live store. Called only inside
    the store's writer guard, which _serve_epochs holds for the whole
    epoch: either a starting compaction sees this epoch's marker and
    refuses, or the epoch saw the lock and failed before reading."""
    stamp_store_epoch(df, epoch_id).write.mode("append").parquet(store_dir)


def _history_or_empty(
    spark: SparkSession,
    store_dir: str,
    epoch_id: int,
    like: DataFrame,
    dedupe_key: list[str] | None,
) -> DataFrame:
    """Cold-start-safe store read: a store directory that does not
    exist yet reads as an EMPTY history with ``like``'s schema (the
    first epoch of a fresh ingest admits everything) instead of an
    AnalysisException — the gap the ingest CLI exposed. ``like`` must
    be a frame with the store's append schema (every caller appends
    rows shaped like its probe input). Runs inside the store's writer
    guard, so no compaction is mid-swap: a store whose compaction died
    between its two renames is restored from ``.pre-compact`` first."""
    recover_swap(store_dir, _rollback_dir(store_dir))
    if not os.path.exists(store_dir):
        return like.limit(0)
    return _prior_history(spark, store_dir, epoch_id, dedupe_key=dedupe_key)


def _prior_history(
    spark: SparkSession,
    store_dir: str,
    epoch_id: int,
    dedupe_key: list[str] | None = None,
) -> DataFrame:
    """Store rows visible to this epoch's probe: everything except this
    epoch's own (crashed-attempt) appends. Unstamped rows (seeds,
    compacted rewrites) read as SEALED: mergeSchema gives them a NULL
    epoch_id.

    ``dedupe_key`` is a SUM-merged store's replay key: min/max stores
    are replay-idempotent for free, but a crashed-then-replayed epoch's
    re-appended increment rows would DOUBLE-COUNT under sum. The rows
    are deterministic recomputations, so _dedupe_stamped_sum_rows — the
    same rule the compaction rewrite applies — keeps one per
    (epoch, key) and leaves sealed rows untouched."""
    raw = spark.read.option("mergeSchema", "true").parquet(store_dir)
    if "epoch_id" not in raw.columns:
        # every row is sealed (seed/compaction output, never a crashed
        # re-append) ⇒ no replay hazard, no dedupe
        return raw
    raw = raw.filter(
        F.col("epoch_id").isNull() | (F.col("epoch_id") != F.lit(int(epoch_id)))
    )
    if dedupe_key:
        return _dedupe_stamped_sum_rows(raw, dedupe_key)
    return raw.drop("epoch_id")


def serve_incremental_dedup_continuous(
    incoming_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Ingest dedup with a LIVE signature store (round-3 #2): each
    epoch re-reads the store, probes the micro-batch against it,
    appends verdicts, and appends the ADMITTED docs' signatures back —
    so a doc admitted in epoch N rejects its near-dup in epoch N+1
    (pinned by test). Epochs are sequential, so the read-modify-append
    cycle is race-free; the checkpoint gives exactly-once epochs, and
    every append is stamped with its epoch_id, so a replayed epoch
    excludes its crashed attempt's rows from its own probe (see
    _prior_history) and re-appends the same admitted rows.

    Scope: the batch is probed against the store, not against itself —
    intra-batch duplicates both admit (production pipelines self-dedup
    the delta first via dedup_lsh_pairs on the batch).

    Scale: store grows by admitted-delta per epoch; compaction is a
    periodic rewrite (sorted by band key — save_corpus_sorted's
    layout) that also keeps the probe join's scan stats tight.
    """
    from finmapreduce_spark.queries.dedup import (
        band_signature_table,
        incremental_verdicts,
    )

    def epoch(ep: _Epoch):
        incoming = keep(band_signature_table(ep.batch))
        # Replay hazard, two forms: a replayed epoch may find (a)
        # duplicate store rows (dedup keeps join fan-out tight)
        # and (b) ITS OWN admitted signatures from the crashed
        # attempt — without excluding them every replayed doc
        # matches itself at jaccard 1.0 and the epoch rewrite
        # would commit false reject verdicts. The exclusion is
        # keyed on epoch_id (replay-specific), NOT doc_id: a doc
        # legitimately resubmitted in a LATER epoch must still
        # match its prior-epoch rows and be rejected.
        history = ep.history(store_dir, incoming).dropDuplicates(
            ["doc_id", "band_id", "key"]
        )
        verdicts = keep(incremental_verdicts(incoming, history))
        admitted = incoming.join(verdicts.select("doc_id"), "doc_id", "left_anti")
        return verdicts, [(admitted, store_dir)]

    return _serve_epochs(
        incoming_docs, checkpoint_dir, out_dir, {store_dir: None}, epoch
    )


def serve_incremental_semantic_continuous(
    incoming_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """SEMANTIC ingest dedup with a live store — the embedding-gated
    twin of serve_incremental_dedup_continuous. The store holds
    semantic_signature_table rows (MinHash band keys for candidate
    generation + the hashing-BoW embedding as the verification
    payload); each epoch probes the micro-batch, rejects docs whose
    best history cosine clears SEMANTIC_INGEST_MIN, and appends the
    ADMITTED docs' rows back — so a paraphrase-close doc admitted in
    epoch N rejects its variant in epoch N+1 even when token edits
    have shifted exact-Jaccard below threshold.

    Same replay hardening as the band twin: history drops duplicate
    rows and excludes this epoch's own crashed-attempt appends, keyed
    on epoch_id (a crashed attempt's appends must not make replayed
    docs match themselves; a doc resubmitted in a later epoch still
    matches its prior rows).

    Scale: per-epoch cost is |delta| × bucket-hit-rate for the probe
    plus one Arrow embedding pass over the delta; the store carries a
    fixed 64-double payload per doc — smaller than the shingle arrays
    the exact-Jaccard store keeps."""
    from finmapreduce_spark.queries.dedup import (
        incremental_semantic_verdicts,
        semantic_signature_table,
    )

    def epoch(ep: _Epoch):
        incoming = keep(semantic_signature_table(ep.batch))
        history = ep.history(store_dir, incoming).dropDuplicates(
            ["doc_id", "band_id", "key"]
        )
        verdicts = keep(incremental_semantic_verdicts(incoming, history))
        admitted = incoming.join(verdicts.select("doc_id"), "doc_id", "left_anti")
        return verdicts, [(admitted, store_dir)]

    return _serve_epochs(
        incoming_docs, checkpoint_dir, out_dir, {store_dir: None}, epoch
    )


def serve_cleaning_gate(
    incoming_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming corpus-ingest cleaning gate: each micro-batch of raw
    documents runs the SAME cleaning funnel the batch catalog query
    uses (queries/textops.py::cleaning_stage — HTML extraction,
    Gopher gate, content fingerprint; pure narrow expressions, no
    state), and the per-doc verdicts append as JSON. The batch twin
    is cleaning_pipeline_report's staged projection — stream and
    batch share cleaning_stage, so identical inputs produce identical
    verdict rows (twin-tested in tests/test_streaming.py).

    Scale: a stateless narrow map — per-trigger cost is |batch| at
    scan speed, watermark-free, and the kept rows are what a
    production ingest would append to the cleaned corpus store
    (downstream exact-dedup against history is the
    serve_incremental_dedup stage, composed after this gate).
    """
    from finmapreduce_spark.queries.textops import cleaning_stage

    return _serve_epochs(
        incoming_docs, checkpoint_dir, out_dir, {},
        lambda ep: (cleaning_stage(ep.batch), []),
    )


def serve_incremental_ann(
    incoming_vectors: DataFrame,
    index_root: str,
    checkpoint_dir: str,
):
    """Streaming ANN index maintenance — the ingest twin of
    ann_ivf_incremental_topk (queries/similarity.py): each micro-batch
    of new embeddings routes through the FROZEN centroid table
    (``index_root/centroids``, K rows, broadcast) and lands as its own
    ``vectors-delta-<epoch>/`` segment via append_ivf_delta. Serving
    (read_ivf_vectors → _serve_cells) sees new vectors one epoch after
    arrival, with no index rebuild anywhere.

    Replay safety: the segment tag is ``<run>-<epoch>`` where ``run``
    is minted once per serve call — a crash-replayed epoch WITHIN a
    run overwrites its own half-written segment (idempotent), while a
    restart with a fresh checkpoint (whose epoch ids restart at 0)
    mints a new run id and cannot clobber earlier runs' segments.
    Cross-run re-delivery of the same rows only duplicates
    bit-identical data, which read_ivf_vectors' latest-wins dedupe
    resolves and compact_ivf_index folds away; a vec_id legitimately
    RESUBMITTED with a changed vector supersedes the old row (higher
    ingest seq wins).

    Ingest is GUARDED: rows failing emb_table's validity predicates
    (NULL/ragged vectors, zero or non-finite norm — one such row would
    otherwise rank first for every query probing its cell, cosine NaN)
    are dropped from the stream against the index's declared dim, so
    an epoch with no valid row is an empty epoch and writes nothing.
    The centroid table is read once per serve call: it is frozen for
    the life of a run.

    Scale: per epoch this is one broadcast crossJoin (K rows) + a
    per-vector argmin + a partitioned write of |batch| rows —
    O(|batch|·K), independent of index size. Centroid refresh is a
    deliberate OFFLINE event (retrain + full re-route), exactly the
    production IVF posture.
    """
    import uuid

    from finmapreduce_spark.queries.similarity import (
        _assign,
        append_ivf_delta,
        valid_vectors,
    )

    run_tag = uuid.uuid4().hex[:8]
    spark = incoming_vectors.sparkSession
    cents = spark.read.parquet(os.path.join(index_root, "centroids"))
    expected_dim = len(cents.select("cv").first()["cv"])
    # valid_vectors uses emb_table's norm formula (sequential IEEE
    # fold), so a vector routes identically batch or stream
    vecs = valid_vectors(incoming_vectors.select("vec_id", "v"), expected_dim)

    def epoch(ep: _Epoch):
        append_ivf_delta(
            ep.spark, index_root, _assign(ep.batch, cents),
            f"{run_tag}-{int(ep.epoch_id)}",
        )
        return None, []

    return _serve_epochs(vecs, checkpoint_dir, None, {}, epoch)


def serve_incremental_url_continuous(
    incoming_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous URL dedup with a LIVE canonical-URL keeper store —
    the crawl-frontier member of the continuous-store family. Each
    epoch: canonicalize the micro-batch's URLs (zero-shuffle string
    projection — queries/dedup.py::_doc_urls), probe the store's
    keeper table, append verdict rows (hist_keeper NULL means the URL
    is new), and append ONE keeper row per newly-seen canonical URL
    back — so a URL admitted in epoch N flags its re-crawl in epoch
    N+1 (cross-epoch pin in tests). The store key IS the dedup
    identity, so intra-batch duplicates collapse at append time (min
    doc per canonical) — and since round 12 the VERDICT rows flag
    them too (is_duplicate = seen-in-history OR non-min same-epoch
    copy, matching the batch twin dedup_incremental_url), so a
    consumer filtering on the verdict column keeps exactly one doc
    per canonical URL per epoch.

    Replay/locking posture is the family standard: _prior_history
    excludes this epoch's own crashed-attempt appends, appends run
    under the append-marker/compaction-lock guard, and a replayed
    epoch re-appends the same keeper rows (read side takes
    min(keeper) per URL, so duplicates are harmless).

    Scale: per-epoch cost is |delta| canonicalization + one
    uniform-key probe join; the store holds one row per distinct
    canonical URL ever admitted."""
    from pyspark.sql import Window as W

    from finmapreduce_spark.queries.dedup import _doc_urls

    def epoch(ep: _Epoch):
        urls = keep(_doc_urls(ep.batch))
        history = ep.history(
            store_dir,
            urls.select("url_canonical", F.col("doc_id").alias("keeper")),
        )
        keepers = history.groupBy("url_canonical").agg(
            F.min("keeper").alias("hist_keeper")
        )
        batch_keeper = F.min("doc_id").over(W.partitionBy("url_canonical"))
        verdicts = keep(
            urls.withColumn("_bk", batch_keeper)
            .join(keepers, "url_canonical", "left")
            .select(
                "doc_id",
                "url_canonical",
                "hist_keeper",
                (
                    F.col("hist_keeper").isNotNull()
                    | (F.col("doc_id") != F.col("_bk"))
                ).alias("is_duplicate"),
            )
        )
        admitted = (
            urls.join(
                verdicts.filter(F.col("is_duplicate")).select("doc_id"),
                "doc_id",
                "left_anti",
            )
            .groupBy("url_canonical")
            .agg(F.min("doc_id").alias("keeper"))
        )
        return verdicts, [(admitted, store_dir)]

    return _serve_epochs(
        incoming_docs, checkpoint_dir, out_dir, {store_dir: None}, epoch
    )


def serve_dsir_filter_continuous(
    incoming_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous DSIR ingest filter with a LIVE bucket-count store —
    the data-selection member of the continuous-store family (batch
    twin: queries/training.py::dsir_incremental_score). Each epoch:
    hash the micro-batch's unigram+bigram counts into the K-bucket
    feature space, score the batch's RAW-language docs against the
    store's PRIOR target/raw dictionaries (keep = log importance
    weight ≥ DSIR_KEEP_LOGW: more likely under the target model than
    the raw model), emit verdict rows, then append the batch's own
    bucket increments — target-language docs grow the target counts,
    raw docs grow the raw counts — so every epoch sharpens the models
    the NEXT epoch is scored by. On an empty store both smoothed
    models are uniform and every weight is exactly 0 (kept at the
    default ≥0 threshold): no evidence, no rejection.

    Store rows: (b, t_add, r_add) increments — the read side SUMS per
    bucket, so replayed-epoch duplicate appends are excluded by the
    family's _prior_history epoch filter, compaction can pre-sum, and
    the live dictionaries stay ≤K rows after any compaction.

    Scale: per-epoch cost is |delta| gram hashing + two ≤K-row
    broadcast probes; the store grows by ≤K rows per epoch and
    compacts to ≤K total."""
    from finmapreduce_spark.queries.training import (
        DSIR_KEEP_LOGW,
        DSIR_TARGET_LANG,
        _dsir_doc_buckets,
        _dsir_score,
    )

    def epoch(ep: _Epoch):
        db = keep(_dsir_doc_buckets(ep.spark, None, docs=ep.batch))
        is_t = F.col("lang") == DSIR_TARGET_LANG
        increments = db.groupBy("b").agg(
            F.sum(F.when(is_t, F.col("c")).otherwise(0)).alias("t_add"),
            F.sum(F.when(~is_t, F.col("c")).otherwise(0)).alias("r_add"),
        )
        hist = ep.history(store_dir, increments)
        tb = hist.groupBy("b").agg(F.sum("t_add").alias("t"))
        rb = hist.groupBy("b").agg(F.sum("r_add").alias("r"))
        # a global aggregate over an empty (cold-start) history still
        # yields its one (0, 0) totals row
        tot = hist.groupBy().agg(
            F.coalesce(F.sum("t_add"), F.lit(0)).alias("t_tot"),
            F.coalesce(F.sum("r_add"), F.lit(0)).alias("r_tot"),
        )
        verdicts = _dsir_score(db.filter(~is_t), tb, rb, tot).select(
            "doc_id",
            "lang",
            "n_grams",
            "logw",
            (F.col("logw") >= DSIR_KEEP_LOGW).alias("keep"),
        )
        return verdicts, [(increments, store_dir)]

    # sum store: dedup (epoch, b) so a replayed epoch's re-appended
    # increments cannot double-count
    return _serve_epochs(
        incoming_docs, checkpoint_dir, out_dir, {store_dir: DSIR_REPLAY_KEY}, epoch
    )


def serve_hll_distinct_continuous(
    incoming_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous corpus-distinct-token estimation with a LIVE
    HyperLogLog register store — the sketch member of the
    continuous-store family, and the demonstration of WHY sketches
    are the streaming cardinality tool: the entire mutable state is
    m=256 (bucket, register) rows that merge by MAX, so a replayed
    epoch's duplicate appends are harmless even WITHOUT the epoch
    filter (max is idempotent), compaction is a trivial max-groupBy,
    and the store never grows past m rows compacted. Each epoch:
    hash the micro-batch's tokens (the deterministic md5 construction
    of queries/sketches.py::sketch_hll_distinct — bit-identical to
    the batch twin), emit one row with the post-batch estimate over
    EVERYTHING seen so far, append the batch's registers.

    Per-epoch cost: |delta| tokenization + one 256-row groupBy.
    The batch twin run over the union of all epochs produces the
    SAME estimate (pinned in tests) — merge-then-estimate equals
    estimate-of-union, the sketch homomorphism."""
    from finmapreduce_spark.queries.sketches import (
        _batch_hll_registers,
        _hll_estimate_from_regs,
    )

    def epoch(ep: _Epoch):
        regs = keep(_batch_hll_registers(ep.batch))
        merged = (
            regs.unionByName(ep.history(store_dir, regs).select("b", "reg"))
            .groupBy("b")
            .agg(F.max("reg").alias("reg"))
        )
        est = _hll_estimate_from_regs(merged).select(
            F.lit(int(ep.epoch_id)).cast("long").alias("epoch"),
            F.col("hll_estimate"),
            F.col("n_registers"),
        )
        return est, [(regs, store_dir)]

    return _serve_epochs(
        incoming_docs, checkpoint_dir, out_dir, {store_dir: None}, epoch
    )


def serve_cms_watchlist_continuous(
    incoming_docs: DataFrame,
    watchlist: list[str],
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous heavy-hitter monitoring with a LIVE count-min store:
    each epoch appends the micro-batch's (j, b, c_add) cell increments
    and emits the CMS estimate of every watchlist token over
    EVERYTHING seen so far — the streaming use of a frequency sketch
    (alerting on sentinel tokens: a PII marker, a poisoning phrase, a
    template explosion) at O(d·w) state regardless of stream length.

    CMS cells merge by SUM, so this store shares the DSIR increment
    store's replay posture, NOT the HLL store's free idempotence: the
    read dedups (epoch, j, b) via _prior_history(dedupe_key=...) so a
    crashed-then-replayed epoch's re-appended increments cannot
    double-count (cell counts are deterministic recomputations).
    Estimates keep the CMS guarantee over the deduped totals:
    est ≥ true, exactly the batch construction of
    queries/sketches.py::sketch_countmin_grams (same cell build, same
    probe cells)."""
    from finmapreduce_spark.queries.sketches import _cms_probes, _cms_sketch

    def epoch(ep: _Epoch):
        cells = keep(_cms_sketch(ep.batch).withColumnRenamed("c", "c_add"))
        sketch = (
            cells.unionByName(
                ep.history(store_dir, cells).select("j", "b", "c_add")
            )
            .groupBy("j", "b")
            .agg(F.sum("c_add").alias("c"))
        )
        # Probe the NORMALIZED form (same trim+lower as _words on
        # the corpus side) so a mixed-case or padded watchlist
        # entry still hits its cells; report under the caller's
        # original spelling.
        probes = _cms_probes(
            ep.spark.createDataFrame(
                [(w, w.strip().lower()) for w in watchlist],
                "orig string, w string",
            )
        )
        est = (
            probes.join(sketch, ["j", "b"], "left")
            .groupBy("orig")
            .agg(F.min(F.coalesce("c", F.lit(0))).alias("cms_estimate"))
            .select(
                F.lit(int(ep.epoch_id)).cast("long").alias("epoch"),
                F.col("orig").alias("token"),
                "cms_estimate",
            )
        )
        return est, [(cells, store_dir)]

    return _serve_epochs(
        incoming_docs, checkpoint_dir, out_dir, {store_dir: CMS_REPLAY_KEY}, epoch
    )


def serve_doremi_weights_continuous(
    incoming_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous DoReMi mixture-weight maintenance with a LIVE
    domain-bucket count store — the mixture member of the
    continuous-store family (batch twin: queries/training.py::
    mixture_doremi_weights). Store rows: (source, b, c_add)
    increments, SUM-merged — exactly the DSIR-store posture, so the
    live read dedups (epoch, source, b) against crashed-then-replayed
    epochs and compaction pre-sums to ≤|D|×K rows.

    Each epoch: hash the micro-batch's unigrams into the K-bucket
    space (_doremi_bucket_counts — bit-identical to the batch twin),
    merge with the store's prior counts, run the two multiplicative-
    weights rounds over the MERGED counts (doremi_weights_from_counts
    — the shared |D|×K-sized math, so merge-then-solve equals
    solve-over-union, pinned in test_streaming), emit the post-batch
    weights for every domain seen so far, append the batch's
    increments.

    Per-epoch cost: |delta| gram hashing + |D|×K-sized algebra —
    never the history corpus."""
    from finmapreduce_spark.queries.training import (
        _doremi_bucket_counts,
        doremi_weights_from_counts,
    )

    def epoch(ep: _Epoch):
        inc = keep(
            _doremi_bucket_counts(ep.batch.filter(F.col("text").isNotNull()))
        )
        increments = inc.select("source", "b", F.col("c").alias("c_add"))
        hist = ep.history(store_dir, increments)
        merged = (
            inc.unionByName(hist.select("source", "b", F.col("c_add").alias("c")))
            .groupBy("source", "b")
            .agg(F.sum("c").alias("c"))
        )
        weights = doremi_weights_from_counts(
            ep.spark, merged, persist=False
        ).select(
            F.lit(int(ep.epoch_id)).cast("long").alias("epoch"),
            "source",
            "n_tokens",
            "excess_r1",
            "excess_r2",
            "weight",
        )
        return weights, [(increments, store_dir)]

    return _serve_epochs(
        incoming_docs,
        checkpoint_dir,
        out_dir,
        {store_dir: DOREMI_REPLAY_KEY},
        epoch,
    )


def serve_quantile_sketch_continuous(
    incoming_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous doc-length quantile estimation with a LIVE adaptive
    hash-level sampler store (queries/sketches.py::
    sketch_quantile_doclen's streaming twin). Two store components
    under ``store_dir``:

    - ``levels/`` — per-level row counts, SUM-merged (the CMS/DSIR
      replay posture: _prior_history dedups (epoch, lvl) so a
      crashed-then-replayed epoch cannot double-count),
    - ``sample/`` — retained (doc_id, val, lvl) rows, append-only.

    Each epoch: level the micro-batch (deterministic md5 — identical
    to the batch twin), merge level counts with history, recompute
    the adaptive threshold L over the TOTALS, refilter
    (prior sample ∪ batch) at L, emit the epoch's percentile
    estimates over everything seen so far, then append the batch's
    level increments and its lvl ≥ L rows. L is non-decreasing in
    the data, so rows admitted at an earlier (smaller) L are a
    superset of what any later refilter needs — the refiltered union
    IS the batch twin's sample over the union (pinned in
    test_streaming), and a compactor may irreversibly drop sample
    rows below the current L.

    Per-epoch cost: |delta| leveling + a ≤49-row count merge + a
    capacity-bounded selection window — never the history."""
    from finmapreduce_spark.queries.sketches import (
        QSK_PCTS,
        _qsk_base,
        _qsk_select,
        _qsk_threshold,
    )

    levels_dir = os.path.join(store_dir, "levels")
    sample_dir = os.path.join(store_dir, "sample")

    def epoch(ep: _Epoch):
        base = keep(_qsk_base(ep.batch))
        lvlc_inc = base.groupBy("lvl").agg(F.count("*").alias("c_add"))
        counts = lvlc_inc.unionByName(
            ep.history(levels_dir, lvlc_inc).select("lvl", "c_add")
        )
        thr = _qsk_threshold(
            counts.groupBy("lvl").agg(F.sum("c_add").alias("c"))
        )
        at_level = F.col("lvl") >= F.col("L")
        rows = base.select("doc_id", "val", "lvl")
        pool = rows.unionByName(
            ep.history(sample_dir, rows).select("doc_id", "val", "lvl")
        )
        retained = keep(pool.join(F.broadcast(thr), at_level))
        pcts = ep.spark.createDataFrame(
            [(p,) for p in QSK_PCTS], "percentile double"
        )
        est = _qsk_select(retained.select("doc_id", "val"), pcts).crossJoin(
            F.broadcast(thr.select(F.col("L").cast("long").alias("level")))
        ).select(
            F.lit(int(ep.epoch_id)).cast("long").alias("epoch"),
            "percentile",
            "sketch_value",
            "n_retained",
            "level",
        )
        admitted = rows.join(F.broadcast(thr), at_level).select(
            "doc_id", "val", "lvl"
        )
        return est, [(lvlc_inc, levels_dir), (admitted, sample_dir)]

    return _serve_epochs(
        incoming_docs,
        checkpoint_dir,
        out_dir,
        {levels_dir: QUANTILE_LEVELS_REPLAY_KEY, sample_dir: None},
        epoch,
    )


def serve_incremental_phash_continuous(
    incoming_docs: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous IMAGE ingest dedup with a live perceptual-hash
    store — the multimodal member of the continuous-store family
    (queries/multimodal.py::dedup_image_phash_pairs is the batch
    form). Each epoch: synthesize/decode the micro-batch's image
    assets, dHash the REAL pixels, probe the band store (4×16-bit
    Manku bands → Hamming ≤ 3 verify, recall 1.0 by pigeonhole),
    emit duplicate verdicts (matched history asset + hamming),
    append the ADMITTED images' band rows — so an image admitted in
    epoch N rejects its re-upload/re-encode in epoch N+1.

    Same replay posture as serve_incremental_dedup_continuous: the
    probe excludes this epoch's own crashed-attempt appends (keyed on
    epoch_id, not asset_id) and dedups store rows. The batch is
    probed against the STORE only; intra-batch duplicates both admit
    (self-dedup the delta with dedup_image_phash_pairs first).

    Scale: per-epoch cost is |delta| decodes + a tiled band probe
    against the store; the store grows by 4 rows per admitted image
    and compacts like the signature stores."""
    from finmapreduce_spark.operators.multimodal import (
        DHASH_BANDS,
        dhash_images,
        fake_assets_from_documents,
    )
    from finmapreduce_spark.queries.multimodal import (
        PHASH_HAMMING_MAX,
        phash_bands,
        phash_hamming,
    )

    def epoch(ep: _Epoch):
        sig = keep(dhash_images(fake_assets_from_documents(ep.batch)))
        bands = phash_bands(sig)
        hist = (
            ep.history(store_dir, bands)
            .dropDuplicates(["asset_id", "k", "bv"])
            .select(
                F.col("asset_id").alias("hist_asset"),
                "k",
                "bv",
                *[
                    F.col(f"b{k}").alias(f"hist_b{k}")
                    for k in range(DHASH_BANDS)
                ],
            )
        )
        # the band probe through the rectangular pairgrid tiler: a
        # band value hot in the batch and the store cannot funnel its
        # pair product through one task
        matches = (
            grid_cross_pairs(
                bands,
                hist,
                ["k", "bv"],
                "asset_id",
                "hist_asset",
                left_payload=[f"b{k}" for k in range(DHASH_BANDS)],
                right_payload=[f"hist_b{k}" for k in range(DHASH_BANDS)],
            )
            .withColumn("hamming", phash_hamming("b{}", "hist_b{}"))
            .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
            .groupBy("asset_id")
            .agg(F.min(F.struct("hamming", "hist_asset")).alias("m"))
            .select(
                "asset_id",
                F.col("m.hist_asset").alias("hist_asset"),
                F.col("m.hamming").alias("hamming"),
            )
        )
        verdicts = keep(
            sig.select("asset_id")
            .join(matches, "asset_id", "left")
            .select(
                F.col("asset_id"),
                F.col("hist_asset").isNotNull().alias("is_duplicate"),
                "hist_asset",
                "hamming",
            )
        )
        admitted = bands.join(
            verdicts.filter(F.col("is_duplicate")).select("asset_id"),
            "asset_id",
            "left_anti",
        )
        return verdicts, [(admitted, store_dir)]

    return _serve_epochs(
        incoming_docs, checkpoint_dir, out_dir, {store_dir: None}, epoch
    )
