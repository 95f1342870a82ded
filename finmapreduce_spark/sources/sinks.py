"""Sinks (SURVEY §2.1 S11; S13, the prompt log, is not carried).

- S11 results sink: timestamped JSON results directory + driver-side
  summary (reference base_pipeline.py:477-505 writes one big JSON; the
  Spark version writes the row data distributed and keeps only the
  small aggregate summary on the driver).
- The offline-rewrite protocol every store compactor shares (below
  save_events_zorder) and the epoch-append store compactors.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def save_results(
    answers: DataFrame,
    out_root: str,
    *,
    config: dict | None = None,
    run_ts: str | None = None,
) -> str:
    """Write answers as JSON under a timestamped directory + a
    _summary.json with config and aggregate stats (A3/A4-shaped)."""
    ts = run_ts or datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S")
    out_dir = os.path.join(out_root, f"results_{ts}")
    # Two actions follow (write + stats agg). Persist so the upstream
    # DAG — which may contain PAID LLM stages — executes exactly once;
    # without this the agg would re-fire every API call (SURVEY §4:
    # no duplicated paid work).
    answers = answers.persist()
    answers.write.mode("overwrite").json(out_dir)
    agg_cols = [c for c in ("input_tokens", "output_tokens") if c in answers.columns]
    summary: dict = {"config": config or {}, "timestamp": ts}
    if agg_cols:
        row = answers.agg(
            F.count("*").alias("n_rows"),
            *[F.sum(c).alias(f"total_{c}") for c in agg_cols],
        ).collect()[0]
        summary["stats"] = row.asDict()
    else:
        summary["stats"] = {"n_rows": answers.count()}
    with open(os.path.join(out_dir, "_summary.json"), "w") as f:
        json.dump(summary, f, indent=2, default=str)
    answers.unpersist()
    return out_dir


def save_corpus(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("lang",),
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet corpus sink — the layout a 100 TB corpus
    actually ships in.

    ``partitionBy`` turns each named column into a directory level, so
    downstream readers with a predicate on it scan ONLY the matching
    directories (partition pruning — PartitionFilters in the plan, no
    footer reads outside the slice). Choose low-cardinality columns
    (lang, date, source); high-cardinality partitioning creates a
    small-files problem instead of pruning.
    """
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def save_corpus_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    key: str = "doc_id",
    n_buckets: int = 64,
    sort_by: str | None = None,
) -> None:
    """Bucketed corpus table (ROADMAP #2): pre-shuffle the corpus ONCE
    at write time so every downstream equi-join/self-join on ``key``
    (qa×docs, dedup candidate joins) reads co-located buckets with no
    Exchange (proven in tests/test_plans.py bucketed-join test).

    bucketBy requires the table catalog; ``path`` keeps the data
    external so nothing lands in a default warehouse dir. Reader side:
    ``spark.table(table_name)`` — plain parquet reads do NOT see
    bucket metadata.
    """
    writer = df.write.bucketBy(n_buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.option("path", path).mode("overwrite").saveAsTable(table_name)


def save_corpus_sorted(
    df: DataFrame,
    path: str,
    partition_by: str = "lang",
    sort_col: str = "doc_id",
    mode: str = "overwrite",
    row_group_bytes: int | None = None,
) -> None:
    """Partitioned + row-group-sorted corpus sink (ROADMAP round-2 #4).

    On top of save_corpus's directory pruning, rows are sorted on
    ``sort_col`` WITHIN each written file, so every parquet row group
    carries a tight, non-overlapping [min, max] for that column.
    Readers with a range/point predicate on ``sort_col`` then skip
    whole row groups on footer stats alone — the cheap cousin of
    Z-ordering, and the difference between touching one row group and
    scanning the partition at 100 TB. (Stats-tightness is pinned in
    tests/test_sources.py with pyarrow footer inspection.)

    ``row_group_bytes`` caps the parquet row-group size so a partition
    splits into many skippable groups even at small data sizes — at
    100 TB the default (128 MB) already yields thousands of groups per
    partition; locally a small cap is what makes the skip measurable
    (tests/test_sources.py pins the sorted-vs-shuffled touch ratio).
    """
    writer = (
        df.repartition(F.col(partition_by))
        .sortWithinPartitions(partition_by, sort_col)
        .write.mode(mode)
        .partitionBy(partition_by)
    )
    if row_group_bytes is not None:
        # parquet-mr only re-checks the in-memory row-group size every
        # `row.check` records (default min 100) — with a small cap the
        # check cadence must shrink too, or tiny partitions still land
        # in one group.
        writer = (
            writer.option("parquet.block.size", str(row_group_bytes))
            # page-size check cadence also gates the block-size check
            # in parquet-mr's InternalParquetRecordWriter
            .option("parquet.page.size.row.check.min", "10")
            .option("parquet.page.size.row.check.max", "10")
        )
    writer.parquet(path)


def save_events_zorder(
    df: DataFrame,
    path: str,
    x_col: str = "user_id",
    y_col: str = "ts",
    bits: int = 12,
    n_files: int = 4,
    mode: str = "overwrite",
    row_group_bytes: int | None = None,
) -> None:
    """Z-order (Morton-curve) layout: TWO-dimensional range pruning
    from one physical sort. Both columns are min/max-scaled to
    ``bits``-bit ranks, their bits interleaved into a z-value, and
    rows range-partitioned + sorted by it — so row groups cover small
    axis-aligned RECTANGLES of the (x, y) plane and carry tight
    footer min/max on BOTH columns. A single-key sorted layout prunes
    range scans on that key and nothing else; the z-layout prunes on
    either dimension (neither as tightly as a dedicated sort — the
    measured trade is pinned in tests/test_sources.py).

    Scale: the layout job is one range shuffle on the z-value
    (repartitionByRange samples it) + local sorts; the rank scaling
    needs one tiny min/max agg up front. At 100 TB this is the
    write-once cost that every later user-range OR time-range scan
    amortizes — the same bargain as save_corpus_sorted, paid on two
    dimensions at once. The z column is dropped before write;
    projection after sort preserves row order.
    """
    def numeric(col_name: str):
        # timestamp/timestamp_ntz have no cast to double on Spark 4.x;
        # rank via epoch micros (monotonic, so rank order is identical).
        dt = dict(df.dtypes).get(col_name, "")
        c = F.col(col_name)
        if dt.startswith("timestamp"):
            return F.unix_micros(c.cast("timestamp")).cast("double")
        return c.cast("double")

    xnum, ynum = numeric(x_col), numeric(y_col)
    lo_hi = df.agg(
        F.min(xnum).alias("xmin"),
        F.max(xnum).alias("xmax"),
        F.min(ynum).alias("ymin"),
        F.max(ynum).alias("ymax"),
    ).first()

    def rank(col, lo, hi):
        span = (hi - lo) or 1.0
        r = F.floor((col - F.lit(lo)) / F.lit(span) * F.lit(2**bits))
        return F.least(F.lit(2**bits - 1), r).cast("long")

    xr = rank(xnum, lo_hi["xmin"], lo_hi["xmax"])
    yr = rank(ynum, lo_hi["ymin"], lo_hi["ymax"])
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(xr, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(yr, i).bitwiseAND(F.lit(1)), 2 * i + 1)

    out = (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    writer = out.write.mode(mode)
    if row_group_bytes is not None:
        writer = (
            writer.option("parquet.block.size", str(row_group_bytes))
            .option("parquet.page.size.row.check.min", "10")
            .option("parquet.page.size.row.check.max", "10")
        )
    # INT96 timestamps (Spark's legacy parquet encoding) carry NO
    # row-group min/max stats — which defeats the entire layout when
    # y_col is a timestamp. Force the stats-bearing encoding for this
    # write and restore the session's setting after.
    spark = df.sparkSession
    conf_key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "TIMESTAMP_MICROS")
    try:
        writer.parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


# ---------------------------------------------------------------------------
# The offline-rewrite protocol shared by every compactor: the nine
# epoch-append stores below, the LLM response cache
# (llm/response_cache.py) and the IVF index (queries/similarity.py).
#   1. the compactor takes _StoreLock and refuses while any append
#      marker is up (_check_no_appenders);
#   2. writers run inside store_writer: marker up, then the lock check;
#   3. the rewrite lands beside the live directory and swap_in promotes
#      it with two renames, parking the old one at a rollback path;
#   4. recover_swap undoes a swap cut between its renames. Compactors
#      run it under their lock, epoch writers inside store_writer
#      (neither can overlap a running swap), plain readers only when no
#      lock is held.
# ---------------------------------------------------------------------------


def store_lock_path(store_dir: str) -> str:
    """Lock file marking the store as under compaction. It sits BESIDE
    the store directory (a lock inside would travel with the swap's
    renames) and is honored by every store_writer, which fails fast
    instead of racing the rewrite."""
    return store_dir.rstrip("/") + ".lock"


class _StoreLock:
    """Exclusive compaction lock via O_CREAT|O_EXCL — atomic on POSIX
    local and NFS; on object stores swap this for a conditional-put.
    A crashed compactor leaves the lock behind; nothing steals it here
    (the response cache expires its own stale locks first)."""

    def __init__(self, store_dir: str):
        self.path = store_lock_path(store_dir)

    def __enter__(self):
        try:
            fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise RuntimeError(
                f"another compaction holds the lock {self.path} "
                "(or crashed; remove the lock after checking)"
            ) from None
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        return self

    def __exit__(self, *exc):
        try:
            os.remove(self.path)
        except OSError:
            pass
        return False


class append_marker:
    """Appender side of the two-sided store guard. The marker file is
    created (O_EXCL, unique name) BEFORE the appender's lock check and
    removed after its append — so in every interleaving either the
    appender sees the compaction lock (and fails fast) or the
    compactor sees the marker / the appended file (and refuses the
    swap): the append-after-re-list TOCTOU the lock alone only
    narrowed is closed. A crashed appender leaves a stale marker that
    blocks compaction; the error message says how to clear it —
    same convention as a crashed compaction's lock file."""

    def __init__(self, store_dir: str):
        import uuid as _uuid

        self.path = (
            store_dir.rstrip("/") + f".appending-{_uuid.uuid4().hex[:8]}"
        )

    def __enter__(self):
        fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        return self

    def __exit__(self, *exc):
        try:
            os.remove(self.path)
        except OSError:
            pass
        return False


class store_writer(append_marker):
    """The one writer guard: the append marker goes up, THEN the
    compaction lock is checked — so either this writer sees the lock
    and fails fast, or a starting compactor sees the marker and
    refuses. Inside it no compaction can be running."""

    def __init__(self, store_dir: str):
        super().__init__(store_dir)
        self.store_dir = store_dir

    def __enter__(self):
        super().__enter__()
        lock = store_lock_path(self.store_dir)
        if os.path.exists(lock):
            super().__exit__()
            raise RuntimeError(
                f"{self.store_dir} is locked for compaction ({lock}); "
                "retry once it is compacted"
            )
        return self


def _check_no_appenders(store_dir: str) -> None:
    """Compactor side of the two-sided guard: refuse to compact while
    any append marker exists (an in-flight epoch passed its lock
    check before this compaction started)."""
    import glob as _glob

    markers = _glob.glob(store_dir.rstrip("/") + ".appending-*")
    if markers:
        raise RuntimeError(
            f"{len(markers)} append(s) in flight for {store_dir} "
            f"(e.g. {markers[0]}) — retry compaction when ingest is "
            "quiescent; remove stale markers only after checking the "
            "appender crashed"
        )


def swap_in(live: str, tmp: str, rollback: str) -> None:
    """Promote ``tmp`` to ``live`` with two renames, parking the
    current ``live`` at ``rollback``. Not atomic: a crash between the
    renames leaves only ``rollback``, which recover_swap restores.
    Callers recover first, so a ``rollback`` found here is stale."""
    import shutil

    shutil.rmtree(rollback, ignore_errors=True)
    if os.path.isdir(live):
        os.rename(live, rollback)
    os.rename(tmp, live)


def recover_swap(live: str, rollback: str) -> None:
    """Undo a swap_in cut between its renames: ``live`` is gone and
    ``rollback`` holds the only copy — rename it back. Run it only
    where no swap can be in progress (see the protocol note above)."""
    if not os.path.isdir(live) and os.path.isdir(rollback):
        os.rename(rollback, live)


def _rollback_dir(store_dir: str) -> str:
    return store_dir.rstrip("/") + ".pre-compact"


def _swap_in_compacted(store_dir: str, tmp_dir: str, seen: set) -> None:
    """Two-rename store swap with a concurrent-append guard.

    The compacted rewrite holds only rows read at compaction start, so
    any file appended to the live store afterwards would be silently
    dropped by the swap (stranded in ``.pre-compact``). The store lock
    makes lock-honoring appenders fail fast for the whole compaction;
    this re-list backstops against appenders that predate the lock or
    ignore it.
    """
    import glob
    import shutil

    now = set(glob.glob(os.path.join(store_dir, "*.parquet")))
    added = now - seen
    if added:
        shutil.rmtree(tmp_dir, ignore_errors=True)
        raise RuntimeError(
            f"{store_dir} gained {len(added)} file(s) during compaction "
            "(concurrent appender?) — swap aborted; re-run while the "
            "store is quiescent"
        )
    swap_in(store_dir, tmp_dir, _rollback_dir(store_dir))


def compact_signature_store(
    spark,
    store_dir: str,
    target_files: int = 4,
) -> dict:
    """Periodic offline compaction for the incremental-dedup signature
    store (the gap left open by serve_incremental_dedup_continuous:
    every epoch APPENDS a small file, and a replayed epoch re-appends
    identical rows — so the store accretes files and duplicates).

    Rewrite = dropDuplicates on the logical key (doc_id, band_id, key)
    → repartition to ``target_files`` on the probe key → sort within
    files by key, so the rewritten row groups carry tight key min/max
    and the store's point-probe joins (key equality) skip on footer
    stats. The new store is written beside the old one and swapped in
    with two directory renames — readers see either the old store or
    the new one, never a half-written mix; the pre-compaction store is
    kept at ``<store>.pre-compact`` until the caller deletes it.

    Scale: this is the standard small-file compaction pattern — at
    100 TB run it per key-range partition on a schedule; epoch appends
    stay cheap and reads stay wide-file. Returns before/after file and
    row counts so the scheduler can decide when compaction pays.
    """
    return _compact_store(
        spark,
        store_dir,
        target_files,
        rewrite=lambda d: d.dropDuplicates(["doc_id", "band_id", "key"]),
        probe_key="key",
    )


def _compact_store(
    spark,
    store_dir: str,
    target_files: int,
    rewrite,
    probe_key: str,
    keep_epoch: bool = False,
) -> dict:
    """Shared compaction skeleton for every epoch-append store
    (signature / gram / fingerprint — round-10 review: three verbatim
    copies of the lock/list/rewrite/swap protocol must not diverge).
    ``rewrite(df) -> df`` applies the store-specific dedup/caps to the
    epoch-stripped merged frame; the skeleton owns locking, the
    in-lock file listing, the probe-key-sorted rewrite (tight
    row-group min/max for the store's point-probe joins), the
    two-rename swap with the concurrent-append guard, the recovery of
    a swap a crash cut short, and the before/after stats."""
    import glob
    import shutil

    with _StoreLock(store_dir):
        _check_no_appenders(store_dir)
        recover_swap(store_dir, _rollback_dir(store_dir))
        # list INSIDE the lock: a file appended between an outside
        # listing and the locked read would be included in the rewrite
        # yet flagged as 'gained' by the swap guard
        seen = set(glob.glob(os.path.join(store_dir, "*.parquet")))
        files_before = len(seen)
        # mergeSchema: live epoch appends carry an epoch_id stamp the
        # seed files lack. The rewrite DROPS the stamp — a compacted
        # store is SEALED history, safe to probe from any epoch (incl.
        # a fresh checkpoint whose epoch ids restart at 0).
        df = spark.read.option("mergeSchema", "true").parquet(store_dir)
        rows_before = df.count()
        # keep_epoch: SUM-merged stores dedup replayed appends on
        # (epoch, key) INSIDE their rewrite before aggregating — they
        # need the stamp; idempotent (min/max/dedup) stores don't.
        src = df if keep_epoch else df.drop("epoch_id")
        compacted = (
            rewrite(src)
            .repartition(target_files, F.col(probe_key))
            .sortWithinPartitions(probe_key)
        )
        tmp_dir = store_dir.rstrip("/") + ".compacting"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        compacted.write.mode("overwrite").parquet(tmp_dir)
        rows_after = spark.read.parquet(tmp_dir).count()
        _swap_in_compacted(store_dir, tmp_dir, seen)
        files_after = len(glob.glob(os.path.join(store_dir, "*.parquet")))
        return {
            "files_before": files_before,
            "files_after": files_after,
            "rows_before": rows_before,
            "rows_after": rows_after,
        }


def compact_gram_store(
    spark,
    store_dir: str,
    target_files: int = 4,
    max_df: int | None = None,
) -> dict:
    """Periodic offline compaction for the passage GRAM store — the
    lifecycle twin of compact_signature_store, closing the gap
    passage_gram_store's docstring leaves open: per-epoch appends can
    only apply the per-doc occurrence cap (the df cap needs the WHOLE
    store), so as epochs accrete (a) replayed epochs duplicate rows,
    (b) small files pile up, and (c) grams DRIFT past the df cap as
    more docs carrying them are admitted.

    Rewrite = dropDuplicates on (doc_id, pos, h) → re-apply BOTH caps
    exactly as passage_gram_store does at build (so the invariant
    ``compact(store) == passage_gram_store(admitted docs)`` holds — the
    compaction test pins it) → repartition to ``target_files`` on the
    probe key h → sort within files by h for tight row-group min/max on
    the probe join. Atomic directory swap with a ``.pre-compact``
    rollback copy, same as the signature store.

    Scale: run per key-range partition on a schedule; the df
    re-application is two count-only aggs + a semi join — no list
    collection grows with store size.
    """
    from finmapreduce_spark.queries.dedup import (
        PASSAGE_MAX_DF,
        PASSAGE_MAX_OCC,
    )

    if max_df is None:
        max_df = PASSAGE_MAX_DF

    def rewrite(df):
        per = (
            df.dropDuplicates(["doc_id", "pos", "h"])
            .groupBy("h", "doc_id")
            .agg(
                F.slice(
                    F.sort_array(F.collect_list("pos")), 1, PASSAGE_MAX_OCC
                ).alias("poss")
            )
        )
        ok = (
            per.groupBy("h")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("h")
        )
        return per.join(ok, "h").select(
            "doc_id", F.explode("poss").alias("pos"), "h"
        )

    return _compact_store(spark, store_dir, target_files, rewrite, "h")


def compact_fp_store(
    spark,
    store_dir: str,
    target_files: int = 4,
) -> dict:
    """Periodic offline compaction for the winnowing FINGERPRINT store
    (substring_fp_table rows appended per epoch by
    serve_incremental_substring_continuous) — the lifecycle twin of
    compact_signature_store for the exact-substring family. Rewrite =
    dropDuplicates on the logical key (doc_id, fp) (replayed epochs
    re-append identical rows) → repartition to ``target_files`` on the
    probe key fp → sort within files by fp so the store's probe joins
    skip on tight row-group min/max. Atomic directory swap with a
    ``.pre-compact`` rollback copy, same locking/append-marker guards
    as the other stores."""
    return _compact_store(
        spark,
        store_dir,
        target_files,
        rewrite=lambda d: d.dropDuplicates(["doc_id", "fp"]),
        probe_key="fp",
    )


# Replay keys of the SUM-merged stores: a crashed-then-replayed epoch
# re-appends identical increments, kept once per (epoch, key) by the
# live read (_prior_history) and by the compaction rewrite alike.
DSIR_REPLAY_KEY = ["b"]
DOREMI_REPLAY_KEY = ["source", "b"]
CMS_REPLAY_KEY = ["j", "b"]
QUANTILE_LEVELS_REPLAY_KEY = ["lvl"]


def _dedupe_stamped_sum_rows(df, key_cols):
    """Replay-dedupe for SUM stores, on the live read and in the
    compaction rewrite: one row per (epoch, key) among STAMPED rows (a
    crashed-then-replayed epoch re-appends identical increments),
    while SEALED rows (epoch_id NULL — seeds, prior compaction output)
    pass through UNTOUCHED. The naive dropDuplicates(["epoch_id",
    *key]) treats NULL epochs as equal and would collapse a legitimate
    multi-row-per-key seed into one row, silently undercounting.
    Drops the epoch_id stamp."""
    if "epoch_id" not in df.columns:
        return df
    sealed = df.filter(F.col("epoch_id").isNull()).drop("epoch_id")
    live = (
        df.filter(F.col("epoch_id").isNotNull())
        .dropDuplicates(["epoch_id", *key_cols])
        .drop("epoch_id")
    )
    return live.unionByName(sealed)


def compact_dsir_store(
    spark,
    store_dir: str,
    target_files: int = 2,
) -> dict:
    """Periodic offline compaction for the DSIR bucket-increment store
    (streaming/pipeline.py::serve_dsir_filter_continuous) — the only
    SUM-merged member of the store family, so its rewrite must dedup
    replayed appends on (epoch, bucket) BEFORE pre-summing: increments
    are deterministic recomputations, so one row per (epoch, b) is
    exact, and summing without the dedup would double-count a
    crashed-then-replayed epoch (the same hazard the live read guards
    with _prior_history(dedupe_key=DSIR_REPLAY_KEY)). Output: ≤K rows,
    one pre-summed (b, t_add, r_add) per bucket, SEALED."""

    def rewrite(df):
        df = _dedupe_stamped_sum_rows(df, DSIR_REPLAY_KEY)
        return df.groupBy("b").agg(
            F.sum("t_add").alias("t_add"),
            F.sum("r_add").alias("r_add"),
        )

    return _compact_store(
        spark, store_dir, target_files, rewrite, "b", keep_epoch=True
    )


def compact_doremi_store(
    spark,
    store_dir: str,
    target_files: int = 2,
) -> dict:
    """Periodic offline compaction for the DoReMi domain-bucket count
    store (streaming/pipeline.py::serve_doremi_weights_continuous) —
    SUM-merged like the DSIR store, so the rewrite dedups replayed
    stamped appends on (epoch, source, b) before pre-summing to
    ≤|D|×K sealed rows."""

    def rewrite(df):
        df = _dedupe_stamped_sum_rows(df, DOREMI_REPLAY_KEY)
        return df.groupBy("source", "b").agg(
            F.sum("c_add").alias("c_add")
        )

    return _compact_store(
        spark, store_dir, target_files, rewrite, "b", keep_epoch=True
    )


def compact_cms_store(
    spark,
    store_dir: str,
    target_files: int = 1,
) -> dict:
    """Periodic offline compaction for the count-min cell store
    (streaming/pipeline.py::serve_cms_watchlist_continuous): cells
    merge by SUM, so the rewrite dedupes replayed stamped appends on
    (epoch, j, b) — sealed rows pass through untouched
    (_dedupe_stamped_sum_rows) — then pre-sums to ≤d×w sealed rows."""

    def rewrite(df):
        df = _dedupe_stamped_sum_rows(df, CMS_REPLAY_KEY)
        return df.groupBy("j", "b").agg(F.sum("c_add").alias("c_add"))

    return _compact_store(
        spark, store_dir, target_files, rewrite, "b", keep_epoch=True
    )


def compact_hll_store(
    spark,
    store_dir: str,
    target_files: int = 1,
) -> dict:
    """Periodic offline compaction for the HLL register store
    (streaming/pipeline.py::serve_hll_distinct_continuous): registers
    merge by MAX, which is idempotent — replayed appends are harmless
    — so the rewrite is a bare max-groupBy and the compacted store is
    ≤m rows forever."""
    return _compact_store(
        spark,
        store_dir,
        target_files,
        rewrite=lambda d: d.groupBy("b").agg(F.max("reg").alias("reg")),
        probe_key="b",
    )


def compact_phash_store(
    spark,
    store_dir: str,
    target_files: int = 2,
) -> dict:
    """Periodic offline compaction for the image perceptual-hash band
    store (streaming/pipeline.py::serve_incremental_phash_continuous)
    — same posture as the text signature store: rows are a SET keyed
    by (asset_id, k, bv), so replayed appends dedupe away and the
    rewrite sorts by the probe key (bv) for footer-stat skipping on
    the band equi-join."""
    return _compact_store(
        spark,
        store_dir,
        target_files,
        rewrite=lambda d: d.dropDuplicates(["asset_id", "k", "bv"]),
        probe_key="bv",
    )


def compact_quantile_store(
    spark,
    store_dir: str,
    target_files: int = 1,
) -> dict:
    """Periodic offline compaction for the quantile-sampler store pair
    (streaming/pipeline.py::serve_quantile_sketch_continuous):

    - ``levels/`` is SUM-merged — the DSIR posture: dedup replayed
      appends on (epoch, lvl), then pre-sum to ≤49 sealed rows;
    - ``sample/`` is a row SET — dedup on doc_id, then drop rows
      below the CURRENT adaptive threshold L (recomputed from the
      compacted level totals): L is non-decreasing in the data, so
      pruned rows can never be needed by a later refilter.

    Returns the merged stats dicts (levels_/sample_ prefixed)."""
    import os

    from finmapreduce_spark.queries.sketches import _qsk_threshold

    def rewrite_levels(df):
        df = _dedupe_stamped_sum_rows(df, QUANTILE_LEVELS_REPLAY_KEY)
        return df.groupBy("lvl").agg(F.sum("c_add").alias("c_add"))

    lstats = _compact_store(
        spark,
        os.path.join(store_dir, "levels"),
        target_files,
        rewrite_levels,
        "lvl",
        keep_epoch=True,
    )
    totals = spark.read.parquet(os.path.join(store_dir, "levels")).select(
        "lvl", F.col("c_add").alias("c")
    )
    thr_l = _qsk_threshold(totals).collect()[0]["L"]

    def rewrite_sample(df):
        return df.dropDuplicates(["doc_id"]).filter(
            F.col("lvl") >= F.lit(int(thr_l))
        )

    sstats = _compact_store(
        spark,
        os.path.join(store_dir, "sample"),
        target_files,
        rewrite_sample,
        "doc_id",
    )
    return {
        **{f"levels_{k}": v for k, v in lstats.items()},
        **{f"sample_{k}": v for k, v in sstats.items()},
    }


def save_corpus_orc(df, path: str) -> None:
    """ORC corpus layout, partitioned by lang — the format-breadth
    twin of the parquet layouts above for estates standardized on ORC
    (Hive-lineage warehouses). Spark's ORC writer is built in; zlib
    keeps the text column compact and lang-dir partitioning gives the
    same partition pruning the sorted layout gets from its lang dirs.
    Round-trip integrity is catalog-certified (documents_orc_scan:
    the read-back aggregates hash-match the plain parquet oracle)."""
    (
        df.write.mode("overwrite")
        .partitionBy("lang")
        .option("compression", "zlib")
        .orc(path)
    )


def save_corpus_csv(df, path: str) -> None:
    """CSV corpus export — the interchange format everything reads.
    Text columns are fully quoted and escaped (embedded newlines,
    quotes, and delimiters survive; readers must use multiLine), with
    an explicit empty-string/null distinction so a round-trip is
    lossless. Integrity is catalog-certified (documents_csv_scan)
    INCLUDING the adversarial corpus, whose poison rows carry quotes,
    commas, newlines, and unicode in every text field."""
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        .option("emptyValue", "")
        .option("nullValue", "\\N")
        # Spark's CSV WRITER trims cell whitespace by default (the
        # reader does not) — an all-whitespace text would round-trip
        # as '' even inside quotes; caught by the adversarial sweep
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )


def read_corpus_csv(spark, path: str, schema: str):
    """The matching reader: multiLine + the same quote/escape/null
    conventions. Schema is explicit — CSV inference on a 100 TB
    corpus is a full extra scan and can mis-type columns."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("emptyValue", "")
        .option("nullValue", "\\N")
        .csv(path)
    )
