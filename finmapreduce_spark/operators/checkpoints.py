"""Lineage truncation for iterative loops, cluster-safe.

Every iterative operator here (connected components' star rounds,
PageRank, batched BPE) must cut its logical plan back to a leaf every
round or Catalyst's analysis itself blows up (lineage grows
exponentially through self-referencing unions).  Locally the right
tool is ``localCheckpoint()`` — executor-local MEMORY_AND_DISK blocks,
no HDFS round-trip, and ``local[]`` has no executor loss to survive.

On a real cluster that trade-off inverts: localCheckpoint blocks live
ONLY on the executors that computed them, so one executor loss during
an hours-long 100-TB CC run makes the truncated lineage unrecoverable
and kills the job.  Setting ``FMR_CHECKPOINT_DIR`` (any Hadoop-visible
path: hdfs://, s3a://, or a shared mount) switches every loop to
reliable ``checkpoint()`` against that directory — each round's state
is replicated to fault-tolerant storage and any executor can rebuild.

The session factory enables
``spark.cleaner.referenceTracking.cleanCheckpoints`` so reliable
checkpoint files are deleted by the ContextCleaner once the driver
drops the RDD handle — the same lifecycle the loops already manage for
local blocks (each round releases the previous round's snapshot).

Persisted intermediates have one owner too: :func:`scratch` opens a
block that releases every frame :func:`keep` persists inside it.
"""

from __future__ import annotations

import gc
import os
import threading
import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame

CHECKPOINT_DIR_ENV = "FMR_CHECKPOINT_DIR"

# Attribute stamped onto checkpointed DataFrames so the loop can later
# release exactly the blocks this checkpoint created (and nothing else).
_CKPT_IDS_ATTR = "_fmr_ckpt_rdd_ids"


def checkpoint_dir() -> str | None:
    """The configured reliable-checkpoint directory, or None (use
    localCheckpoint)."""
    return os.environ.get(CHECKPOINT_DIR_ENV) or None


_blocks = threading.local()


@contextmanager
def scratch():
    """A block that owns every frame :func:`keep` persists in this
    thread while it is open (in the innermost open block, when blocks
    nest), and unpersists each one, blocking, at exit — on success
    and on error. Yields the owned list: frames persisted elsewhere
    (another thread, before the block) are handed in by appending.

    Only frames whose last reader runs inside the block belong here;
    a lazy plan returned past the exit re-derives a released frame
    from lineage. Checkpoints (:func:`iter_checkpoint`) have no
    lineage to fall back on and are never owned — their loops
    release them with :func:`release_iter_checkpoint`."""
    owned: list[DataFrame] = []
    stack = _blocks.__dict__.setdefault("stack", [])
    stack.append(owned)
    try:
        yield owned
    finally:
        stack.pop()
        for df in owned:
            df.unpersist(True)


def keep(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by this thread's innermost open
    :func:`scratch` block. With no block open it is a plain persist:
    the cache is the caller's, released with
    ``spark.catalog.clearCache()`` — the catalog-wide contract that
    catalog callers such as ``bench.py`` and ``tools/compare.py``
    rely on."""
    df.persist()
    stack = getattr(_blocks, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


def iter_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage — the per-round
    checkpoint call every iterative loop routes through.

    Default: ``localCheckpoint()`` (eager, executor-local blocks).
    With ``FMR_CHECKPOINT_DIR`` set: reliable ``checkpoint()`` (eager)
    into that directory, surviving executor loss.  The checkpoint dir
    is installed on the SparkContext on first use.

    In local mode the returned DataFrame carries the id of the RDD
    the checkpoint pinned — the ``LogicalRDD`` its plan reads — so
    :func:`release_iter_checkpoint` can free those blocks
    synchronously once the loop rebinds past the snapshot. A frame
    cached lazily upstream and first computed by the checkpoint's
    job is not the checkpoint's: it stays cached for its owner.
    """
    ckdir = checkpoint_dir()
    sc = df.sparkSession.sparkContext
    if not ckdir:
        out = df.localCheckpoint()
        out._fmr_ckpt_rdd_ids = frozenset(
            {out._jdf.queryExecution().analyzed().rdd().id()}
        )
        return out
    # setCheckpointDir is idempotent for the same path; only install
    # when unset so an operator-provided dir (e.g. set by a notebook)
    # is never silently replaced.
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(ckdir)
    out = df.checkpoint(eager=True)
    # Reliable checkpoints hold FILES, not storage blocks; the
    # ContextCleaner deletes them on driver GC of the RDD handle
    # (cleanCheckpoints=true in the session factory), so there is
    # nothing to unpersist by id here.
    out._fmr_ckpt_rdd_ids = frozenset()
    return out


def release_iter_checkpoint(df: DataFrame | None) -> int:
    """BLOCKING release of the checkpoint blocks ``df`` pinned.

    Rebinding a loop variable orphans the previous round's snapshot,
    but its MEMORY_AND_DISK blocks free only after Python GC drops the
    py4j handle AND the async ContextCleaner gets around to the
    fire-and-forget removal message.  In a tight loop over a multi-GB
    edge set nothing forces either, so every round's full table stays
    resident — the round-14 100× study filled an 80 GB scratch volume
    that way (ENOSPC), and the round-14 bench close record showed the
    same disease across trials (monotone 10→15→25 s CC lane).  A
    per-round ``gc.collect()`` (the round-14 fix) makes the removal
    *eligible*, not *done*; unpersisting the tracked RDD ids with
    ``blocking=True`` makes it synchronous: when this returns, the
    blocks are gone.

    Only call after the successor state is eagerly materialized —
    checkpointing truncated the lineage, so these blocks are the
    snapshot's ONLY copy.

    In reliable mode (no tracked ids) this falls back to a
    ``gc.collect()`` so the ContextCleaner can delete the now
    unreferenced checkpoint files.  Returns the number of RDDs
    released.
    """
    if df is None:
        return 0
    ids = getattr(df, _CKPT_IDS_ATTR, None)
    if not ids:
        if ids is not None:  # reliable mode: files, not blocks
            gc.collect()
        return 0
    released = 0
    try:
        jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
        for rid in ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(True)
                released += 1
    except Exception as e:  # pragma: no cover - py4j hiccup
        # Never fail a correct computation over cleanup; degrade to
        # the async best-effort path.
        warnings.warn(f"checkpoint release fell back to gc: {e}")
        gc.collect()
    df._fmr_ckpt_rdd_ids = frozenset()
    return released


def release_all_persistent_rdds(spark) -> int:
    """BLOCKING release of EVERY persistent RDD on the context —
    including localCheckpoint blocks, which
    ``spark.catalog.clearCache()`` does NOT touch (the cache manager
    only tracks cached *queries*).  Safe only at a quiesce point where
    no live DataFrame will re-read a truncated-lineage RDD: between a
    staged lane's parquet write and the next lane, or between bench
    trials.  Returns the number of RDDs released."""
    released = 0
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in jmap.values():
            jrdd.unpersist(True)
            released += 1
    except Exception as e:  # pragma: no cover - py4j hiccup
        warnings.warn(f"persistent-RDD release fell back to gc: {e}")
        gc.collect()
    return released
