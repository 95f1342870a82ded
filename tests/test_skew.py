"""salted_join == plain join on skewed data, with the salt actually
spreading the hot key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finmapreduce_spark.operators.skew import SALT_COL, salted_join


@pytest.fixture()
def skewed(spark):
    # one hot key (doc 7 appears 500×), many cold keys
    facts = spark.range(600).select(
        F.when(F.col("id") < 500, F.lit(7)).otherwise(F.col("id")).alias("doc_id"),
        F.col("id").alias("qa_id"),
    )
    dim = spark.range(700).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )
    return facts, dim


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equivalence(spark, skewed, how):
    facts, dim = skewed
    got = salted_join(facts, dim, "doc_id", n_salts=8, how=how)
    want = facts.join(dim, "doc_id", how)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert SALT_COL not in got.columns


def test_salt_spreads_hot_key(spark, skewed):
    facts, _ = skewed
    salted = facts.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*facts.columns), F.lit(8))
    )
    n_salts_used = (
        salted.filter(F.col("doc_id") == 7).select(SALT_COL).distinct().count()
    )
    assert n_salts_used == 8  # hot key fans out over all salt partitions


def test_salted_join_rejects_unsupported_how(spark, skewed):
    facts, dim = skewed
    with pytest.raises(ValueError):
        salted_join(facts, dim, "doc_id", how="full")


def test_skew_report_tool_emits_stage_metrics():
    """tools/skew_report.py (ROADMAP #3): runs in its own process (it
    needs a UI-enabled session the shared test session can't provide)
    and must emit per-stage task quantiles with skew ratios."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "skew_report.py"),
            "q1_pricing_summary",
            "--sf",
            "/root/testdata/sf0.001",
            "--top",
            "3",
        ],
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["query"] == "q1_pricing_summary"
    assert report["stages"], "expected at least one multi-task stage"
    for st in report["stages"]:
        assert st["tasks"] >= 2
        assert st["dur_skew"] >= 1.0
        assert len(st["dur_ms"]) == 3 and st["dur_ms"][0] <= st["dur_ms"][2]


def test_embedding_cosine_grid_decomposition_equivalence(spark, monkeypatch):
    """Forcing a tiny chunk size (every label grid-decomposed into
    many tasks) must produce the identical pair set as the degenerate
    single-chunk plan — the bounded-bucket rewrite is pure candidate
    plumbing, not semantics."""
    from finmapreduce_spark.queries import dedup

    sf_dir = "/root/testdata/sf0.001"
    baseline = dedup.dedup_embedding_cosine(spark, sf_dir)
    base = {tuple(r) for r in baseline.collect()}
    assert base, "no qualifying pairs at sf0.001 — test data drifted"

    monkeypatch.setattr(dedup, "COSINE_CHUNK", 7)
    chunked = dedup.dedup_embedding_cosine(spark, sf_dir)
    got = {tuple(r) for r in chunked.collect()}
    assert got == base


# ---------------------------------------------------------------------------
# Connected-components algorithm equivalence: min-label vs alternating
# large-star/small-star (the deep-graph escape hatch).
# ---------------------------------------------------------------------------


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def _labels(df):
    return {r["doc_id"]: r["label"] for r in df.collect()}


@pytest.mark.parametrize(
    "pairs,want",
    [
        # chain 1-2-3-4-5: one component rooted at 1
        ([(1, 2), (2, 3), (3, 4), (4, 5)],
         {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}),
        # clique {10,11,12} + pair {20,21} + reversed edge orientation
        ([(10, 11), (11, 12), (12, 10), (21, 20)],
         {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}),
        # duplicate + self edges don't disturb labels
        ([(7, 8), (8, 7), (7, 7), (8, 9)], {7: 7, 8: 7, 9: 7}),
    ],
)
def test_cc_algorithms_agree_on_fixtures(spark, pairs, want):
    from finmapreduce_spark.queries.dedup import connected_components

    e = _edges_df(spark, pairs)
    got_min = _labels(connected_components(e, "minlabel"))
    got_star = _labels(connected_components(e, "star"))
    assert got_min == want
    assert got_star == want


def test_cc_star_handles_diameter_past_minlabel_budget(spark):
    """A 30-hop chain needs 29 min-label rounds (> MAX_CC_ITERS=20)
    but collapses in O(log n) star rounds — the reason the flag
    exists."""
    from finmapreduce_spark.queries.dedup import (
        MAX_CC_ITERS,
        connected_components,
    )

    n = 30
    assert n - 1 > MAX_CC_ITERS
    chain = [(i, i + 1) for i in range(1, n)]
    e = _edges_df(spark, chain)
    got = _labels(connected_components(e, "star"))
    assert got == {i: 1 for i in range(1, n + 1)}
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(e, "minlabel").collect()


def test_cluster_canonical_star_flag_matches_default(spark, sf_dir, monkeypatch):
    from finmapreduce_spark.queries.dedup import dedup_cluster_canonical

    base = {
        tuple(r)
        for r in dedup_cluster_canonical(spark, sf_dir).collect()
    }
    via_arg = {
        tuple(r)
        for r in dedup_cluster_canonical(spark, sf_dir, "minlabel").collect()
    }
    assert via_arg == base
    monkeypatch.setenv("FMR_CC_ALGORITHM", "minlabel")
    via_env = {
        tuple(r)
        for r in dedup_cluster_canonical(spark, sf_dir).collect()
    }
    assert via_env == base
    with pytest.raises(ValueError, match="unknown CC algorithm"):
        dedup_cluster_canonical(spark, sf_dir, "nope")


# ---------------------------------------------------------------------------
# Grid-decomposed LSH pair join (hot band buckets)
# ---------------------------------------------------------------------------

def test_lsh_grid_equals_plain_on_hot_corpus(spark, sf_dir, tmp_path):
    """dedup_lsh_pairs_grid must produce EXACTLY the plain band-join's
    pairs, including on a distribution-poisoned corpus whose hot
    bucket spans many grid blocks (500003 clones > LSH_GRID_BLOCK)."""
    from tools.adversarial_corpus import build_hot_bucket_corpus

    from finmapreduce_spark.queries.dedup import (
        LSH_GRID_BLOCK,
        dedup_lsh_pairs,
        dedup_lsh_pairs_grid,
    )

    hot_dir = build_hot_bucket_corpus(sf_dir, str(tmp_path / "hot"), frac=0.2)
    plain = sorted(map(tuple, dedup_lsh_pairs(spark, hot_dir).collect()))
    grid = sorted(map(tuple, dedup_lsh_pairs_grid(spark, hot_dir).collect()))
    assert grid == plain
    assert len(plain) > 0
    # the fixture really exercises multi-block tiling
    n_hot = sum(1 for a, b, _j in plain if a >= 500000 and b >= 500000)
    assert n_hot > LSH_GRID_BLOCK  # hot cluster pairs span blocks


def test_grid_self_pairs_block_boundaries(spark):
    """The tiler must produce EXACTLY the plain self-join's ordered
    pairs for bucket sizes straddling every block boundary (1, B-1, B,
    B+1, 2B+3) and for rows appearing in multiple buckets."""
    from pyspark.sql import functions as F

    from finmapreduce_spark.operators.pairgrid import grid_self_pairs

    B = 4  # small block so boundaries are cheap to cross
    sizes = {"s1": 1, "sBm1": B - 1, "sB": B, "sBp1": B + 1, "s2B3": 2 * B + 3}
    rows = []
    i = 0
    for bucket, n in sizes.items():
        for _ in range(n):
            rows.append((i, bucket, i * 10))
            i += 1
    # one doc also lands in a SECOND bucket shared with another doc →
    # the same pair can arise from two buckets and must dedupe
    rows.append((0, "shared", 0))
    rows.append((1, "shared", 10))
    df = spark.createDataFrame(rows, "doc_id long, key string, payload long")

    got = sorted(
        (r["doc_id_a"], r["doc_id_b"], r["payload_a"], r["payload_b"])
        for r in grid_self_pairs(df, ["key"], "doc_id", ["payload"], block=B).collect()
    )
    l, r = df.alias("l"), df.alias("r")
    want = sorted(
        (x["a"], x["b"], x["pa"], x["pb"])
        for x in l.join(
            r,
            (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"),
            F.col("l.payload").alias("pa"), F.col("r.payload").alias("pb"),
        )
        .dropDuplicates(["a", "b"])
        .collect()
    )
    assert got == want
    # sanity: the multi-bucket pair (0,1) appears exactly once
    assert sum(1 for a, b, *_ in got if (a, b) == (0, 1)) == 1


# ---------------------------------------------------------------------------
# Grid-tiled exact-substring verify join (hot 40-grams)
# ---------------------------------------------------------------------------

def test_substring_grid_equals_plain_on_hot_gram_corpus(spark, sf_dir, tmp_path):
    """The pairgrid-routed exact-substring verify (the default) must
    produce EXACTLY the un-tiled gram self-join's (doc_a, doc_b,
    n_shared_grams) rows — including on a corpus where one planted
    boilerplate sentence puts 20% of docs behind shared gram keys
    spanning many grid blocks (the license-header pathology the tiler
    exists for)."""
    from tools.adversarial_corpus import build_hot_gram_corpus

    from finmapreduce_spark.queries.dedup import (
        SUBSTR_GRID_BLOCK,
        _docs,
        exact_substring_pairs,
    )

    hot_dir = build_hot_gram_corpus(sf_dir, str(tmp_path / "hotgram"), frac=0.2)
    docs = _docs(spark, hot_dir)
    grid = sorted(map(tuple, exact_substring_pairs(docs).collect()))
    spark.catalog.clearCache()
    plain = sorted(
        map(tuple, exact_substring_pairs(docs, block=None).collect())
    )
    spark.catalog.clearCache()
    assert grid == plain
    assert len(plain) > 0
    # the planted cluster really exercises multi-block tiling: H docs
    # share every boilerplate gram, H > block
    n_hot = sum(1 for a, b, _n in plain if a >= 600000 and b >= 600000)
    assert n_hot > SUBSTR_GRID_BLOCK


def test_substring_batch_scratch_releases_persists(spark, sf_dir):
    """Batch substring operators must route every internal persist
    through the caller's scratch block so a long-lived library caller
    can release them without clearCache (round-10 advice: the
    streaming path needed exactly this fix for its per-epoch leak)."""
    from finmapreduce_spark.operators.checkpoints import scratch
    from finmapreduce_spark.queries.dedup import (
        _docs,
        exact_substring_pairs,
        exact_substring_spans,
        substring_duplication_coverage,
    )

    docs = _docs(spark, sf_dir)
    jsc = spark.sparkContext._jsc

    def pinned_ids():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    # baseline AGAINST the shared session by RDD id, not count: other
    # tests' legitimately-cached frames are still pinned when the
    # whole suite runs in one session, and the async ContextCleaner
    # may release some of them mid-test — the cleaner only ever
    # REMOVES ids, so "no NEW ids survive" is the stable invariant
    before = pinned_ids()
    for op in (
        exact_substring_pairs,
        exact_substring_spans,
        substring_duplication_coverage,
    ):
        with scratch() as owned:
            op(docs).count()
            assert owned, f"{op.__name__} persisted nothing into scratch"
            for df in owned:
                assert df.is_cached
        # nothing NEW pinned once the block released what it owned
        assert pinned_ids() - before == set()


def test_grid_cross_pairs_multiset_equals_plain_join(spark):
    """The rectangular tiler must produce EXACTLY the plain bucket
    equi-join's row multiset across block boundaries on both sides
    (sizes 1, B-1, B, B+1, 2B+3 crossed), including duplicate ids
    within a bucket (positional payload rows)."""
    from pyspark.sql import functions as F

    from finmapreduce_spark.operators.pairgrid import grid_cross_pairs

    B = 4
    lrows, rrows = [], []
    sizes = [1, B - 1, B, B + 1, 2 * B + 3]
    for b, (nl, nr) in enumerate(zip(sizes, reversed(sizes))):
        for i in range(nl):
            lrows.append((f"k{b}", 100 + i, i))
        for j in range(nr):
            rrows.append((f"k{b}", 200 + j, j * 10))
    # a left-only and a right-only bucket must contribute nothing
    lrows.append(("lonlyL", 1, 0))
    rrows.append(("lonlyR", 2, 0))
    # duplicate id rows in one bucket (pos payloads differ)
    lrows += [("k0", 100, 7), ("k0", 100, 8)]
    left = spark.createDataFrame(lrows, "key string, lid long, lpos long")
    right = spark.createDataFrame(rrows, "key string, rid long, rpos long")

    got = sorted(
        (r["lid"], r["rid"], r["lpos"], r["rpos"])
        for r in grid_cross_pairs(
            left, right, ["key"], "lid", "rid",
            left_payload=["lpos"], right_payload=["rpos"], block=B,
        ).collect()
    )
    spark.catalog.clearCache()
    want = sorted(
        (r["lid"], r["rid"], r["lpos"], r["rpos"])
        for r in left.alias("l")
        .join(right.alias("r"), F.col("l.key") == F.col("r.key"))
        .select("l.lid", "r.rid", "l.lpos", "r.rpos")
        .collect()
    )
    assert got == want
    assert len(want) > B * B  # multiple cells really exercised


def test_incremental_verdicts_tiled_equals_plain_on_hot_corpus(
    spark, sf_dir, tmp_path
):
    """The opt-in tiled band-store probe must produce EXACTLY the
    plain probe's verdicts on the identical-clone hot corpus, where
    the template bucket is hot on BOTH the incoming split and the
    history store and the clone count spans many grid blocks."""
    from tools.adversarial_corpus import build_hot_bucket_corpus

    from finmapreduce_spark.queries.dedup import (
        INGEST_MOD,
        _docs,
        band_signature_table,
        incremental_verdicts,
    )
    from pyspark.sql import functions as F

    hot_dir = build_hot_bucket_corpus(sf_dir, str(tmp_path / "hotb"), frac=0.4)
    buckets = band_signature_table(_docs(spark, hot_dir)).persist()
    incoming = buckets.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) == 0)
    history = buckets.filter(F.pmod("doc_id", F.lit(INGEST_MOD)) != 0)
    plain = sorted(
        map(tuple, incremental_verdicts(incoming, history).collect())
    )
    tiled = sorted(
        map(
            tuple,
            incremental_verdicts(incoming, history, tiled=True).collect(),
        )
    )
    spark.catalog.clearCache()
    assert tiled == plain
    # the clone family really exercises the two-sided hot bucket:
    # every incoming clone rejects against the history clones
    hot_rejects = [r for r in plain if r[0] >= 500000]
    assert len(hot_rejects) > 0


def test_grid_cross_pairs_rejects_colliding_output_names(spark):
    """Payload columns pass through verbatim (no _a/_b suffixing), so
    a name shared across sides — or with an id — must fail loudly at
    plan time instead of emitting ambiguous duplicate columns
    (round-12 advice)."""
    import pytest as _pytest

    from finmapreduce_spark.operators.pairgrid import grid_cross_pairs

    left = spark.createDataFrame(
        [("k", 1, 5)], "key string, lid long, pos long"
    )
    right = spark.createDataFrame(
        [("k", 2, 6)], "key string, rid long, pos long"
    )
    with _pytest.raises(ValueError, match="collision.*pos"):
        grid_cross_pairs(
            left,
            right,
            ["key"],
            "lid",
            "rid",
            left_payload=["pos"],
            right_payload=["pos"],
        )


def test_grid_cross_pairs_join_shuffles_on_cell(spark):
    """The tiler's guarantee IS the shuffle on (bucket, l_blk, r_blk):
    round 12's band-probe study measured that a broadcast hash join —
    Catalyst's pick whenever the delta side estimates small — performs
    the pair probes in the stream side's physical partitions and
    funnels a two-sided hot bucket through the few tasks holding its
    rows (44 s hot task, WORSE than the plain probe's 33 s). Round 15
    moved the pin shuffle_hash → merge (same cell-key exchange,
    spill-safe build — the 50× study killed the self-tiler's SHJ hash
    build): pin sort-merge so a planner change cannot revert to
    EITHER broadcast or an unspillable hash build."""
    from finmapreduce_spark.operators.pairgrid import grid_cross_pairs

    left = spark.createDataFrame(
        [("k", i) for i in range(10)], "key string, lid long"
    )
    right = spark.createDataFrame(
        [("k", i) for i in range(10)], "key string, rid long"
    )
    plan = (
        grid_cross_pairs(left, right, ["key"], "lid", "rid")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan


def test_banded_rank_equals_plain_row_number(spark):
    """The banded distributed rank must equal the single-window
    row_number for every partition group — including groups whose
    rows all land in ONE band and bands that are empty for some
    groups (the offset prefix-sum must not leak across groups)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from finmapreduce_spark.operators.distrank import banded_rank, hex_band

    rows = [(g, i) for g in range(3) for i in range(g * 7 + 5)]
    df = spark.createDataFrame(rows, "grp int, item long")
    key = F.md5(F.concat_ws(":", F.col("grp"), F.col("item")))
    keyed = df.select(
        "grp", "item", key.alias("_k"), hex_band(key).alias("_band")
    )
    got = {
        (r["grp"], r["item"]): r["rank"]
        for r in banded_rank(
            keyed,
            band_cols=["_band"],
            order_cols=["_k", "item"],
            partition_cols=["grp"],
        ).collect()
    }
    want = {
        (r["grp"], r["item"]): r["rank"]
        for r in keyed.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("grp").orderBy("_k", "item")
            ),
        ).collect()
    }
    assert got == want
    assert len(want) == sum(g * 7 + 5 for g in range(3))


def test_desc_long_band_monotone_and_rank_exact(spark):
    """r13: the log-scale value band for DESCENDING long ranks.
    (a) Band order must coarsen the descending key order — for any
    two values, a strictly smaller band value implies a strictly
    larger key (monotone across binade boundaries, powers of two,
    zero, and values sharing a 9-bit prefix). (b) banded_rank over
    the band must reproduce the plain desc-window row_number,
    including tie classes (equal keys, host-asc tiebreak) that
    necessarily share a band."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from finmapreduce_spark.operators.distrank import (
        banded_rank,
        desc_long_band,
    )

    vals = sorted(
        {
            0, 1, 2, 3, 511, 512, 513, 1023, 1024, 1025,
            (1 << 40) - 1, 1 << 40, (1 << 40) + 1, (1 << 62) - 1,
            7, 7, 70, 700, 1 << 20, (1 << 20) + 1,
        }
    )
    # tie class: five rows share value 7 with distinct tiebreaks
    rows = [(v, f"h{i:03d}") for i, v in enumerate(vals)] + [
        (7, f"tie{i}") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "val long, host string").withColumn(
        "_band", desc_long_band(F.col("val"))
    )
    collected = df.select("val", "_band").distinct().collect()
    # (a) monotone: sort by band asc → val non-increasing
    by_band = sorted(collected, key=lambda r: (r["_band"], -r["val"]))
    vs = [r["val"] for r in by_band]
    assert vs == sorted(vs, reverse=True)
    # distinct binades get distinct bands (adaptivity, no collapse)
    assert len({r["_band"] for r in collected}) > len(vals) // 2
    # (b) exact rank vs the single-window reference
    got = {
        (r["val"], r["host"]): r["rank"]
        for r in banded_rank(
            df,
            band_cols=["_band"],
            order_cols=[F.col("val").desc(), F.col("host").asc()],
        ).collect()
    }
    want = {
        (r["val"], r["host"]): r["rank"]
        for r in df.withColumn(
            "rank",
            F.row_number()
            .over(W.orderBy(F.desc("val"), F.asc("host")))
            .cast("long"),
        ).collect()
    }
    assert got == want


def test_image_phash_grid_on_hot_clone_corpus(spark, sf_dir, tmp_path):
    """r13: image near-dup dedup on a clone-bombed corpus. Appended
    docs share one residue mod 2304 (= lcm of the synth dims/phase
    cycles), so their PPM payloads are byte-identical → identical
    dHash → every band bucket holds all 150 clones and the pair
    product (11k+ pairs, spanning >2 grid blocks of 64) must tile,
    not funnel. The expected pair set is recomputed INDEPENDENTLY
    from the synth formula with numpy — full value check of hash,
    banding, dedupe-across-bands, and Hamming verify."""
    import duckdb
    import numpy as np

    from finmapreduce_spark.queries.multimodal import (
        PHASH_HAMMING_MAX,
        dedup_image_phash_pairs,
    )

    out = str(tmp_path / "hotimg")
    import os

    os.makedirs(out, exist_ok=True)
    n_clones = 150
    clone_ids = [600000 + 2304 * i for i in range(n_clones)]
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM '{sf_dir}/documents.parquet'
          UNION ALL
          SELECT uid AS doc_id, 'clone page' AS text, 'en' AS lang,
                 'hot' AS source, 10 AS n_chars
          FROM unnest({clone_ids}) AS t(uid)
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    for t in (
        "region nation customer supplier part orders lineitem "
        "events embeddings"
    ).split():
        os.symlink(f"{sf_dir}/{t}.parquet", f"{out}/{t}.parquet")

    got = sorted(
        (r["asset_a"], r["asset_b"], r["hamming"])
        for r in dedup_image_phash_pairs(spark, out).collect()
    )

    # independent reference: synth formula → gray → dHash → bands
    def dhash(d):
        w, h = d % 16 + 4, d % 12 + 4
        buf = (31 * d + 7 * np.arange(w * h * 3)) % 256
        gray = buf.reshape(h, w, 3).astype(np.int64).sum(axis=2) // 3
        g = gray[(np.arange(8) * h) // 8][:, (np.arange(9) * w) // 9]
        return (g[:, :8] > g[:, 1:]).reshape(-1)

    ids = sorted(
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM '{out}/documents.parquet' "
            "WHERE doc_id % 3 = 0"
        ).fetchall()
    )
    hs = {d: dhash(d) for d in ids}
    from collections import defaultdict

    buckets = defaultdict(list)
    for d in ids:
        bits = hs[d]
        for k in range(4):
            v = 0
            for j in range(16):
                v = (v << 1) | int(bits[16 * k + j])
            buckets[(k, v)].append(d)
    want = set()
    for ds in buckets.values():
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                p = (min(a, b), max(a, b))
                ham = int((hs[p[0]] != hs[p[1]]).sum())
                if ham <= PHASH_HAMMING_MAX:
                    want.add((p[0], p[1], ham))
    assert got == sorted(want)
    # the clone cluster really is hot: all clone pairs present at 0
    n_clone_pairs = sum(
        1 for a, b, h in got if a >= 600000 and b >= 600000 and h == 0
    )
    assert n_clone_pairs == n_clones * (n_clones - 1) // 2
    spark.catalog.clearCache()


def test_rank_band_width_is_tunable_and_value_invariant(spark):
    """r13: FMR_RANK_HEX_CHARS widens the band space at deploy time;
    the RANK must be identical at every width (the band is a pure
    coarsening — only per-task sort volume changes)."""
    from pyspark.sql import functions as F

    from finmapreduce_spark.operators.distrank import banded_rank, hex_band

    df = spark.range(500).select(F.col("id").alias("item"))
    key = F.md5(F.col("item").cast("string"))
    results = []
    for width in (1, 2, 4):
        keyed = df.select(
            "item", key.alias("_k"), hex_band(key, width).alias("_band")
        )
        got = {
            r["item"]: r["rank"]
            for r in banded_rank(
                keyed, band_cols=["_band"], order_cols=["_k", "item"]
            ).collect()
        }
        results.append(got)
    assert results[0] == results[1] == results[2]
    assert sorted(results[0].values()) == list(range(1, 501))
