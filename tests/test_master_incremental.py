"""Incremental master keep-list: the production state-probe path.

The catalog oracle certifies dedup_master_keep_list_incremental
end-to-end against the FULL-recompute SQL (the exactness claim); these
tests pin the piece the oracle cannot see — that probing PREBUILT
history stores (master_history_state, what a production pipeline
persists between ingests) yields exactly the same cross edges as the
self-contained path that derives history signatures in-call, and that
the incremental keep-list equals the batch capstone's on the same
corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finmapreduce_spark.queries.dedup import (
    _master_cross_edges,
    dedup_master_keep_list,
    dedup_master_keep_list_incremental,
    dedup_master_keep_list_staged,
    master_history_state,
)


def _corpus(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    ).strip()
    rows = []
    for i in range(12):
        if i in (3, 4):  # exact dups (same content hash)
            text = base
        elif i == 5:  # near dup of the pair above (LSH/substring bait)
            text = base + " tail tweak"
        else:
            text = f"doc {i} " + " ".join(f"w{i}_{j}" for j in range(40))
        rows.append((i, text, "en"))
    rows.append((12, None, "en"))  # null text must not join anything
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )


def _edges(df):
    return sorted((r.doc_a, r.doc_b) for r in df.collect())


def test_cross_edges_prebuilt_state_equals_self_contained(spark):
    docs = _corpus(spark)
    delta = docs.filter(F.pmod("doc_id", F.lit(3)) == 0)
    hist = docs.filter(F.pmod("doc_id", F.lit(3)) != 0)
    want = _edges(_master_cross_edges(spark, "", delta, hist))
    state = master_history_state(spark, "", hist)
    got = _edges(_master_cross_edges(spark, "", delta, hist, state=state))
    assert got == want
    # the exact-dup trio spans the split (3 ∈ delta; 4, 5 ∈ history),
    # so the probe must produce at least one cross edge
    assert want, "expected cross edges across the ingest split"
    spark.catalog.clearCache()


def test_incremental_keep_list_equals_batch_capstone(spark, sf_dir):
    want = sorted(
        (r.doc_id, r.lang)
        for r in dedup_master_keep_list(spark, sf_dir).collect()
    )
    got = sorted(
        (r.doc_id, r.lang)
        for r in dedup_master_keep_list_incremental(spark, sf_dir).collect()
    )
    assert got == want
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "keep_list, n_cc",
    [(dedup_master_keep_list_incremental, 2), (dedup_master_keep_list_staged, 1)],
    ids=["incremental", "staged"],
)
def test_incremental_releases_history_shingles_before_cc(
    spark, sf_dir, monkeypatch, keep_list, n_cc
):
    """The signature state feeds the pair pass only: every frame the
    incremental and staged keep-lists persist while deriving their
    stores and building their lanes (shingles, bucket tables,
    candidates, tiler indexes, signatures) must be released before
    connected components runs, so no CC phase runs under it."""
    import threading

    from pyspark import StorageLevel

    from finmapreduce_spark.queries import dedup

    spark.catalog.clearCache()
    frame_cls = type(spark.range(1))
    real_persist = frame_cls.persist
    real_state, real_lanes = dedup.master_history_state, dedup._master_lanes
    real_cc = dedup.connected_components
    persisted, pinned_at_cc = [], []
    # per thread: the staged pool builds two lanes concurrently, and a
    # sibling's pair-table persist must not count as lane state
    inside = threading.local()

    def persist(self, *a, **kw):
        if getattr(inside, "depth", 0):
            persisted.append(self)
        return real_persist(self, *a, **kw)

    def recording(fn):
        def wrapped(*a, **kw):
            inside.depth = getattr(inside, "depth", 0) + 1
            try:
                return fn(*a, **kw)
            finally:
                inside.depth -= 1

        return wrapped

    def master_lanes(*a, **kw):
        return [(n, recording(b)) for n, b in recording(real_lanes)(*a, **kw)]

    def connected_components(edges, *a, **kw):
        pinned_at_cc.append(
            [df for df in persisted if df.storageLevel != StorageLevel.NONE]
        )
        return real_cc(edges, *a, **kw)

    monkeypatch.setattr(frame_cls, "persist", persist)
    monkeypatch.setattr(dedup, "master_history_state", recording(real_state))
    monkeypatch.setattr(dedup, "_master_lanes", master_lanes)
    monkeypatch.setattr(dedup, "connected_components", connected_components)
    keep_list(spark, sf_dir).collect()
    spark.catalog.clearCache()
    # shingles + five stores + LSH/semantic candidates + tiler indexes
    assert len(persisted) >= 8, persisted
    assert pinned_at_cc == [[]] * n_cc
