"""Reliable-checkpoint mode (FMR_CHECKPOINT_DIR) for iterative loops.

On a real cluster, localCheckpoint blocks die with their executor, so
an hours-long CC/PageRank/BPE run is unrecoverable after one executor
loss (VERDICT r14 "What's missing" #1).  operators/checkpoints.py
switches every loop to reliable checkpoint(dir) when the env var is
set; these tests pin (a) result equality between the two modes and
(b) that the reliable mode actually writes checkpoint state into the
configured directory (i.e. the flag is not silently ignored).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from finmapreduce_spark.operators.checkpoints import (
    CHECKPOINT_DIR_ENV,
    iter_checkpoint,
)
from finmapreduce_spark.queries.dedup import connected_components


def _edges(spark):
    # two components: a 4-chain (1-2-3-4) and a triangle (10,11,12)
    rows = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def _labels(df):
    return sorted((r.doc_id, r.label) for r in df.collect())


def test_iter_checkpoint_writes_reliable_state(spark, tmp_path, monkeypatch):
    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, ckdir)
    out = iter_checkpoint(_edges(spark))
    assert out.count() == 6
    # reliable checkpoint state landed under the configured dir
    found = [
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(ckdir)
        for f in fn
    ]
    assert found, "reliable checkpoint wrote no files under FMR_CHECKPOINT_DIR"


def test_cc_reliable_checkpoint_matches_local(spark, tmp_path, monkeypatch):
    e = _edges(spark)
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    want = _labels(connected_components(e, "star"))
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(tmp_path / "ck2"))
    got = _labels(connected_components(e, "star"))
    assert got == want
    # minlabel loop under reliable mode reaches the same fixpoint
    got_min = _labels(connected_components(e, "minlabel"))
    assert got_min == want


def test_pagerank_reliable_checkpoint_matches_local(spark, tmp_path, monkeypatch):
    from finmapreduce_spark.queries.dedup import pagerank_ranks

    docs = spark.range(1, 7).select(F.col("id").alias("doc_id"))
    links = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (1, 4)],
        "src long, dst long",
    )
    n = 6
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    want = sorted(
        (r.doc_id, r.rank)
        for r in pagerank_ranks(docs, links, n, tol=0, checkpoint_every=2).collect()
    )
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(tmp_path / "ck3"))
    got = sorted(
        (r.doc_id, r.rank)
        for r in pagerank_ranks(docs, links, n, tol=0, checkpoint_every=2).collect()
    )
    assert got == want


def _live_ids(spark):
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def test_release_iter_checkpoint_frees_blocks(spark, monkeypatch):
    from finmapreduce_spark.operators.checkpoints import (
        release_iter_checkpoint,
    )

    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    df = iter_checkpoint(_edges(spark))
    ids = df._fmr_ckpt_rdd_ids
    assert ids, "local checkpoint registered no persistent RDDs"
    assert ids <= _live_ids(spark)
    assert release_iter_checkpoint(df) == len(ids)
    assert not (ids & _live_ids(spark)), "blocks still live after release"
    # releasing twice is a no-op, and None is accepted
    assert release_iter_checkpoint(df) == 0
    assert release_iter_checkpoint(None) == 0


def test_release_reliable_mode_keeps_frame_readable(
    spark, tmp_path, monkeypatch
):
    from finmapreduce_spark.operators.checkpoints import (
        release_iter_checkpoint,
    )

    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(tmp_path / "ckrel"))
    df = iter_checkpoint(_edges(spark))
    assert df._fmr_ckpt_rdd_ids == frozenset()
    assert release_iter_checkpoint(df) == 0
    assert df.count() == 6  # reliable files untouched by release


def test_release_all_persistent_rdds(spark, monkeypatch):
    from finmapreduce_spark.operators.checkpoints import (
        release_all_persistent_rdds,
    )

    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    a = _edges(spark).persist()
    a.count()
    b = iter_checkpoint(_edges(spark))
    assert _live_ids(spark)
    released = release_all_persistent_rdds(spark)
    assert released >= 2
    assert not _live_ids(spark)
    del a, b


def test_cc_star_retains_bounded_snapshots(spark, monkeypatch):
    """The star loop must hold O(1) snapshots, not one per round: each
    superseded round is blocking-released (the r14 100x ENOSPC class)."""
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    before = _live_ids(spark)
    out = connected_components(_edges(spark), "star")
    assert out.count() == 7
    # retained: the converged edge set + the node-list checkpoint
    assert len(_live_ids(spark) - before) <= 2


def test_release_leaves_upstream_cache_to_its_owner(spark, monkeypatch):
    """A frame persisted lazily upstream and first computed by a
    checkpoint's job is not the checkpoint's: releasing the
    checkpoint must leave it pinned and cached for its owner."""
    from pyspark import StorageLevel

    from finmapreduce_spark.operators.checkpoints import (
        release_iter_checkpoint,
    )

    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    before = _live_ids(spark)
    a = spark.range(1000).withColumn("x7", F.col("id") % 7).persist()
    try:
        out = iter_checkpoint(a.groupBy("x7").count())
        cache_ids = _live_ids(spark) - before - out._fmr_ckpt_rdd_ids
        assert cache_ids, "the checkpoint claimed the upstream cache"
        assert release_iter_checkpoint(out) == 1
        assert cache_ids <= _live_ids(spark), "upstream cache unpinned"
        assert a.is_cached and a.storageLevel != StorageLevel.NONE
    finally:
        a.unpersist(True)


def test_scratch_block_releases_what_keep_persists(spark):
    """``keep`` inside a block belongs to the innermost open block and
    is released at its exit, on error too; outside any block it is a
    plain persist left to its caller."""
    import pytest

    from finmapreduce_spark.operators.checkpoints import keep, scratch

    free = keep(spark.range(5).withColumn("k", F.lit("free")))
    with scratch() as outer:
        a = keep(spark.range(5).withColumn("k", F.lit("outer")))
        with pytest.raises(RuntimeError):
            with scratch() as inner:
                b = keep(spark.range(5).withColumn("k", F.lit("inner")))
                raise RuntimeError("mid-block failure")
        assert inner == [b] and not b.is_cached
        assert outer == [a] and a.is_cached
    assert not a.is_cached
    assert free.is_cached
    free.unpersist(True)


def test_scratch_blocks_are_per_thread(spark):
    """Blocks open at the same time in several threads each own only
    their own thread's keeps — the staged keep-list's concurrent
    lanes must never release a sibling's frames."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from finmapreduce_spark.operators.checkpoints import keep, scratch

    n = 8
    all_open = threading.Barrier(n, timeout=60)

    def lane(i):
        with scratch() as owned:
            all_open.wait()
            mine = [
                keep(spark.range(3).withColumn("lane", F.lit(f"{i}/{j}")))
                for j in range(3)
            ]
            all_open.wait()
            return [id(df) for df in owned] == [id(df) for df in mine]

    with ThreadPoolExecutor(max_workers=n) as pool:
        assert all(pool.map(lane, range(n)))
