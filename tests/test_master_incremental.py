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

from pyspark.sql import functions as F

from finmapreduce_spark.queries.dedup import (
    _master_cross_edges,
    dedup_master_keep_list,
    dedup_master_keep_list_incremental,
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


def test_incremental_releases_history_shingles_before_cc(spark, sf_dir, monkeypatch):
    """The shingle table master_history_state persists feeds the pair
    pass only; the incremental keep-list must release it with the
    other stores, so neither CC phase runs under it."""
    from pyspark import StorageLevel

    from finmapreduce_spark.queries import dedup

    spark.catalog.clearCache()
    shingled, pinned_at_cc = [], []
    real_shingles, real_cc = dedup.with_shingles, dedup.connected_components

    def with_shingles(df):
        out = real_shingles(df)
        shingled.append(out)
        return out

    def connected_components(edges, *a, **kw):
        pinned_at_cc.append(
            [df for df in shingled if df.storageLevel != StorageLevel.NONE]
        )
        return real_cc(edges, *a, **kw)

    monkeypatch.setattr(dedup, "with_shingles", with_shingles)
    monkeypatch.setattr(dedup, "connected_components", connected_components)
    dedup_master_keep_list_incremental(spark, sf_dir).collect()
    spark.catalog.clearCache()
    assert shingled, "the history store was not derived from shingles"
    # entered twice (history labels, then the merge), both times clean
    assert pinned_at_cc == [[], []]
