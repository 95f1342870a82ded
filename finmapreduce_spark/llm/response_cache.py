"""Cross-run LLM response cache (ROADMAP #1; SURVEY §4's
"LLM-call deduplication ... explicit dropDuplicates + response-cache
table").

The in-worker request-key cache (client.py) dies with the executor;
this table makes paid calls idempotent ACROSS runs: before the
mapInPandas stage, prompts left-anti join the cache and only misses
hit the API; fresh responses append back. Re-running a failed or
extended job re-pays nothing for prompts already answered.

Layout: parquet under ``cache_dir`` with
(key string, content string, input_tokens long, output_tokens long) —
key = md5(namespace || '|' || kind || '|' || prompt), namespace =
the answering model's identity (provider:model:temperature; "" for
the mock). Append-only: every append lands in its own ``seg-<uuid>/``
segment (private output committer → concurrent runs can share one
cache_dir without clobbering each other's ``_temporary`` staging),
the reader scans root + segments recursively and dedupes keys
keep-first, and ``compact_response_cache`` folds segments back into
one sorted table offline.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finmapreduce_spark.sources.sinks import (
    _check_no_appenders,
    _StoreLock,
    recover_swap,
    store_lock_path,
    store_writer,
    swap_in,
)

CACHE_SCHEMA = "key string, content string, input_tokens long, output_tokens long"


def _key(kind: str, prompt_col, namespace: str = ""):
    """Cache key = md5(namespace | kind | prompt). ``namespace``
    identifies the ANSWERING MODEL (provider/model/temperature):
    responses are only interchangeable across runs that would have
    asked the same model the same thing — without it, re-running with
    --model_name gpt-4o against a gpt-4o-mini cache would silently
    replay the old model's answers. The CLI derives it from the
    provider args; the mock's namespace is '' (deterministic mock
    responses are model-independent)."""
    return F.md5(
        F.concat(F.lit(namespace), F.lit("|"), F.lit(kind), F.lit("|"), prompt_col)
    )


def _recover_interrupted_compaction(cache_dir: str) -> None:
    """Close the compaction crash windows: (a) killed between the two
    renames — the table sits at ``<cache_dir>.compact-old`` while
    ``cache_dir`` is gone — restore it (recover_swap) instead of
    silently re-paying every cached prompt; (b) killed after the swap
    but before the staging carry-over — staged raws stranded under the
    old dir — move them into the live table before anything deletes
    them. Runs under the writer guard or the compaction lock."""
    old = cache_dir.rstrip("/") + ".compact-old"
    recover_swap(cache_dir, old)
    old_staging = os.path.join(old, "_staging")
    live_staging = os.path.join(cache_dir, "_staging")
    if (
        os.path.isdir(cache_dir)
        and os.path.isdir(old_staging)
        and not os.path.isdir(live_staging)
    ):
        os.rename(old_staging, live_staging)


def _expire_stale_lock(cache_dir: str, stale_lock_s: float) -> None:
    """A compaction lock older than ``stale_lock_s`` is presumed
    crashed: rename it aside ATOMICALLY so _StoreLock can be taken —
    exactly one renamer wins (remove+recreate would let two stealers
    each delete the other's fresh lock and both run the swap). A lock
    that is young, gone, or lost to another stealer is left to
    _StoreLock to report."""
    import time
    import uuid

    lock = store_lock_path(cache_dir)
    try:
        if time.time() - os.path.getmtime(lock) < stale_lock_s:
            return
        stolen = f"{lock}.stolen-{uuid.uuid4().hex[:8]}"
        os.rename(lock, stolen)
    except OSError:
        return
    os.remove(stolen)


def _newest_write_age_s(cache_dir: str) -> float | None:
    """Seconds since the most recent write under _staging/ or seg-*/
    (the two places a live job writes); None if neither exists."""
    import glob
    import time

    newest = None
    roots = glob.glob(os.path.join(cache_dir, "seg-*")) + [
        os.path.join(cache_dir, "_staging")
    ]
    for root in roots:
        if not os.path.isdir(root):
            continue
        for dirpath, _dirnames, filenames in os.walk(root):
            for name in filenames + ["."]:
                try:
                    m = os.path.getmtime(os.path.join(dirpath, name))
                except OSError:
                    continue  # racing writer; the quiesce check re-runs
                newest = m if newest is None else max(newest, m)
    return None if newest is None else max(0.0, time.time() - newest)


def _cache_files(cache_dir: str) -> list[str]:
    """Data files of the cache table: root-level parquet plus append
    segments (seg-*/); `_`-prefixed dirs (staging) are not data."""
    import glob

    return [
        *glob.glob(os.path.join(cache_dir, "*.parquet")),
        *glob.glob(os.path.join(cache_dir, "seg-*", "*.parquet")),
    ]


def _load_cache(spark: SparkSession, cache_dir: str) -> DataFrame:
    _recover_interrupted_compaction(cache_dir)
    if os.path.isdir(cache_dir) and _cache_files(cache_dir):
        return (
            # recursive lookup reads root files AND seg-*/ appends in
            # one scan; Spark's hidden-path filter skips _staging
            spark.read.option("recursiveFileLookup", "true")
            .parquet(cache_dir)
            .dropDuplicates(["key"])
        )
    return spark.createDataFrame([], CACHE_SCHEMA)


def run_llm_stage_cached(
    df: DataFrame,
    *,
    prompt_col: str,
    kind: str,
    out_schema: str,
    row_builder,
    client_factory,
    cache_dir: str,
    expect_json: bool = False,
    concurrency: int = 50,
    namespace: str = "",
) -> DataFrame:
    """Generic cache wrapper for ANY LLM stage (map/reduce/judge).

    Three steps, all distributed:
      1. split: prompts anti-join the cache table (hits carry the
         cached content; only misses will pay),
      2. misses run the real stage in RAW mode — the mapInPandas echo
         builder passes the input row through plus the raw response
         (content/tokens/error) so fresh responses can append to the
         cache even for builders whose output discards raw content
         (reduce parses it away; judge explodes one response into many
         rows). Raws are written ONCE to a staging parquet under
         ``cache_dir/_staging`` (underscore prefix: invisible to the
         cache table read); every downstream consumer reads that file,
         so the paid stage executes exactly once regardless of plan
         re-execution, AQE re-planning, or executor loss — durability
         a ``.persist()`` cannot promise (and in practice plan-cache
         interactions around the mid-build append made a persisted
         miss-leg silently recompute empty; the staging file is
         immune by construction),
      3. replay: hits ∪ staged raws run the stage's ``row_builder`` in
         a second mapInPandas with NO client — pure parsing, zero LLM
         calls. Every row is built by the same builder whether it hit
         or missed, so cached and uncached runs are value-identical.

    The cache join is left to Catalyst (AQE broadcasts a small cache,
    shuffles a 100-TB one); no driver collection anywhere.
    """
    import uuid

    import pandas as pd

    from pyspark.sql import types as T

    from finmapreduce_spark.llm.client import LLMResponse
    from finmapreduce_spark.llm.runner import run_llm_stage

    spark = df.sparkSession
    keyed = df.withColumn("__key", _key(kind, F.col(prompt_col), namespace))

    in_cols = [f.name for f in keyed.schema.fields]
    raw_fields = [
        T.StructField("__content", T.StringType(), True),
        T.StructField("__error", T.StringType(), True),
        T.StructField("__in_tok", T.LongType(), True),
        T.StructField("__out_tok", T.LongType(), True),
    ]
    raw_schema = T.StructType(list(keyed.schema.fields) + raw_fields)

    def echo_builder(pdf: pd.DataFrame, responses: list) -> pd.DataFrame:
        out = pdf[in_cols].copy()
        out["__content"] = [
            None if isinstance(r, Exception) else r.content for r in responses
        ]
        out["__error"] = [
            str(r) if isinstance(r, Exception) else None for r in responses
        ]
        out["__in_tok"] = [
            0 if isinstance(r, Exception) else r.input_tokens for r in responses
        ]
        out["__out_tok"] = [
            0 if isinstance(r, Exception) else r.output_tokens for r in responses
        ]
        return out

    # The ONLY execution of the paid stage: write raws durably, then
    # read them back for both the cache append and the replay. The
    # writer guard spans the cache read and the whole PAID (eager)
    # phase, so a starting compactor refuses rather than renaming the
    # directory inode away mid-call — LLM batches can legitimately go
    # minutes without a parquet flush, which the compactor's mtime
    # quiesce cannot see.
    staging = os.path.join(cache_dir, "_staging", f"{kind}-{uuid.uuid4().hex}")
    with store_writer(cache_dir):
        cache = _load_cache(spark, cache_dir)
        hits = keyed.join(
            cache.select(
                F.col("key").alias("__key"),
                F.col("content").alias("__content"),
                F.col("input_tokens").alias("__in_tok"),
                F.col("output_tokens").alias("__out_tok"),
            ),
            "__key",
        ).select(*in_cols, "__content", F.lit(None).cast("string").alias("__error"),
                 "__in_tok", "__out_tok")
        misses = keyed.join(
            cache.select(F.col("key").alias("__key")), "__key", "left_anti"
        )
        run_llm_stage(
            misses,
            prompt_col=prompt_col,
            kind=kind,
            out_schema=raw_schema,
            row_builder=echo_builder,
            client_factory=client_factory,
            expect_json=expect_json,
            concurrency=concurrency,
        ).write.mode("overwrite").parquet(staging)
        # explicit schema: an all-hits run stages an empty dataset,
        # which schema inference would reject
        fresh_raw = spark.read.schema(raw_schema).parquet(staging)

        new_rows = fresh_raw.filter(F.col("__error").isNull()).select(
            F.col("__key").alias("key"),
            F.col("__content").alias("content"),
            F.col("__in_tok").alias("input_tokens"),
            F.col("__out_tok").alias("output_tokens"),
        )
        if new_rows.limit(1).count() > 0:
            # each append lands in its OWN segment dir: concurrent runs
            # (two CLIs, CLI + streaming server) sharing one cache_dir
            # would otherwise stage under the SAME <cache_dir>/_temporary
            # committer dir and clobber each other's in-flight task files;
            # a per-job segment gives every writer a private committer.
            new_rows.write.mode("overwrite").parquet(
                os.path.join(cache_dir, f"seg-{uuid.uuid4().hex}")
            )

    combined = hits.unionByName(fresh_raw)

    def replay(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            responses = [
                RuntimeError(e)
                if e is not None
                else LLMResponse(
                    content=c,
                    input_tokens=int(i),
                    output_tokens=int(o),
                    cache_read_tokens=0,
                )
                for c, e, i, o in zip(
                    pdf["__content"], pdf["__error"], pdf["__in_tok"], pdf["__out_tok"]
                )
            ]
            yield row_builder(
                pdf.drop(columns=["__content", "__error", "__in_tok", "__out_tok"]),
                responses,
            )

    return combined.mapInPandas(replay, schema=out_schema)


def compact_response_cache(
    spark: SparkSession,
    cache_dir: str,
    *,
    quiesce_s: float = 300.0,
    stale_lock_s: float = 3600.0,
) -> dict:
    """Offline compaction for the append-only cache table.

    Every cached stage run appends a few files and leaves a raw
    staging dir behind; months of runs accrete thousands of small
    files whose LISTING (not size) becomes the cache-read cost.
    Compaction rewrites the table as one deduped, key-sorted parquet
    (sorting aids dictionary/RLE compression on the md5 keys), then
    atomically swaps it in. ``_staging`` is PRESERVED across the swap
    (a finished paid phase may still lazily re-read its staged raws
    downstream — see _compact_locked); reclaim it explicitly with
    ``prune_response_staging`` once no job could still reference it.
    Local-FS rename is atomic; an object-store deployment swaps via a
    versioned prefix + pointer instead.

    The "offline" assumption is ENFORCED, not conventional (ADVICE
    r05): (a) the store compaction lock (sources/sinks.py
    ``_StoreLock``, ``<cache_dir>.lock``) excludes concurrent
    compactors AND makes new cached-stage runs refuse to start
    (their ``store_writer`` guard), and (b) compaction itself
    refuses while ``_staging``/``seg-*`` contain writes newer than
    ``quiesce_s`` — a live job's staged raws are lazily re-read
    downstream, so renaming the directory inode away would lose its
    paid responses. Pass ``quiesce_s=0`` when the caller KNOWS every
    job is done (tests; a scheduler that owns the cache dir). A lock
    older than ``stale_lock_s`` is presumed crashed and stolen.

    Returns {"rows", "files_before", "files_after"}.
    """
    _expire_stale_lock(cache_dir, stale_lock_s)
    with _StoreLock(cache_dir):
        _check_no_appenders(cache_dir)  # a paid eager phase is in flight
        _recover_interrupted_compaction(cache_dir)
        if quiesce_s > 0 and os.path.isdir(cache_dir):
            age = _newest_write_age_s(cache_dir)
            if age is not None and age < quiesce_s:
                raise RuntimeError(
                    f"refusing to compact {cache_dir!r}: writes "
                    f"{age:.0f}s old (< quiesce {quiesce_s:.0f}s) "
                    "suggest a live job; wait or pass quiesce_s=0"
                )
        return _compact_locked(spark, cache_dir)


def _compact_locked(spark: SparkSession, cache_dir: str) -> dict:
    import shutil

    files_before = len(_cache_files(cache_dir)) if os.path.isdir(cache_dir) else 0
    cache = _load_cache(spark, cache_dir)
    tmp = cache_dir.rstrip("/") + ".compact-tmp"
    cache.sortWithinPartitions("key").write.mode("overwrite").parquet(tmp)
    rows = spark.read.parquet(tmp).count()
    old = cache_dir.rstrip("/") + ".compact-old"
    # a crash between swap_in's renames leaves the table at
    # .compact-old — _recover_interrupted_compaction (run by every
    # reader and by this function) renames it back, so the window
    # costs a retry, never the table.
    swap_in(cache_dir, tmp, old)
    # PRESERVE _staging across the swap: a job that finished its paid
    # phase (marker released) may still lazily re-read its staged raws
    # downstream — deleting them with the old dir would lose paid
    # responses; moving the dir into the new table keeps them durable
    # at the SAME path. (The job's root-file reads may still need a
    # retry after the file listing changes; the retry is free BECAUSE
    # staging survived.) A crash before this move strands staging in
    # .compact-old — _recover_interrupted_compaction moves it back.
    # Disk is reclaimed explicitly via prune_response_staging.
    old_staging = os.path.join(old, "_staging")
    if os.path.isdir(old_staging):
        os.rename(old_staging, os.path.join(cache_dir, "_staging"))
    shutil.rmtree(old, ignore_errors=True)
    files_after = len(_cache_files(cache_dir))
    return {
        "rows": rows,
        "files_before": files_before,
        "files_after": files_after,
    }


def prune_response_staging(cache_dir: str, older_than_s: float = 86_400.0) -> int:
    """Reclaim staging disk: delete ``_staging`` entries whose newest
    write is older than ``older_than_s`` (default one day — far past
    any job's lazy-read tail). Separated from compaction so the swap
    never has to decide whether a staged raw is still referenced;
    staged SUCCESS rows are already folded into the table by the
    appends and staged ERROR rows must retry fresh, so pruning loses
    nothing that the cache serves. Returns the number of entries
    removed."""
    import glob
    import shutil
    import time

    removed = 0
    for entry in glob.glob(os.path.join(cache_dir, "_staging", "*")):
        newest = None
        for dirpath, _dirs, files in os.walk(entry):
            for name in files + ["."]:
                try:
                    m = os.path.getmtime(os.path.join(dirpath, name))
                except OSError:
                    continue
                newest = m if newest is None else max(newest, m)
        if newest is not None and time.time() - newest > older_than_s:
            shutil.rmtree(entry, ignore_errors=True)
            removed += 1
    return removed
