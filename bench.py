"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The metric is total wall time across the headline set; per-query
seconds let regressions be localized. Results are forced with a cheap
count() action (no driver-side collect of big results).

Each query runs BENCH_TRIALS times (default 3) and the recorded
per-query second (and the headline total) is the TRIAL MEDIAN —
rounds 9/10 both spent judge+builder effort re-explaining a ±15%
uniform host drift on plan-untouched queries measured from single
trials; the median retires that. Per-trial times live in the
BENCH_DETAILS sidecar under "trials".
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from finmapreduce_spark.operators.checkpoints import (  # noqa: E402
    release_all_persistent_rdds,
)
from finmapreduce_spark.queries import all_queries  # noqa: E402
from finmapreduce_spark.session import get_spark  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.1"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)

# Headline set: the queries whose plan shapes dominate the engine —
# big agg, star join, windows, sessionization, temporal joins, the
# MinHash-LSH dedup chain, ANN search, and the full mock-LLM QA DAG.
HEADLINE = [
    "q1_pricing_summary",
    "q5_regional_revenue",
    "q8_market_share",
    "j1_broadcast_left_join",
    "w3_topk_per_group",
    "w2_fixed_batches",
    "sessionize_events",
    "hourly_event_rollup",
    "a9_pivot_counts",
    "asof_join_events",
    "range_join_band_count",
    "dedup_lsh_pairs",
    "dedup_cluster_canonical",
    "ann_ivf_topk",
    "pipeline_e2e_answers",
    "multimodal_ann_topk",
    "text_token_topk",
    "text_tfidf_topk",
    "contamination_ngram_overlap",
    # round-4 additions: the collapsed double-EXISTS, the Gopher
    # repetition gate, and the iterative k-means trainer
    "q21_sole_late_suppliers",
    "text_repetition_metrics",
    "kmeans_cluster_sizes",
    # round-5: span-level exact dedup (explode→group→in-row pairs→
    # diagonal-chain windows — a plan shape nothing else covers)
    "dedup_duplicate_passages",
    # round-2 (judge round 2): grid-decomposed exact pair join under
    # label skew, and the corpus-self-join unigram-LM scorer
    "dedup_embedding_cosine",
    "unigram_logprob_quality",
    # round-3: real-pixel multimodal decode (Arrow binary codec
    # stages), banded-candidate + cosine-gated semantic dedup, and
    # the BM25 broadcast retrieval join
    "multimodal_decode_features",
    "dedup_semantic_verify",
    "bm25_retrieval_topk",
    # round-3 (cont.): the iterative averaged-perceptron trainer (K
    # epochs over the compacted hashed-BoW feature table) and the
    # zero-shuffle Gopher rule battery
    "classifier_langid_train",
    "text_gopher_rules",
    # round-3 (cont.): composed cleaning funnel, persisted-IVF DPP
    # serving, int8 quantization projection, iterative PageRank
    "cleaning_pipeline_report",
    "ann_ivf_persisted_topk",
    "embedding_quantize_int8",
    "pagerank_links",
    # round-3 (cont.): integer-packed simhash banded pair join — the
    # band equi-join + popcount verify plan shape
    "dedup_simhash_pairs",
    # round-4: top-M batched BPE — 4 merges in 2 corpus-count rounds
    # (vs 1 merge/round sequential); the driver-round-trip cut that
    # matters at real vocab sizes
    "bpe_train_merges_batched",
    # round-4: bigram-LM cross-entropy quality (two count shuffles +
    # two count-table joins + per-doc agg — the CCNet ladder step
    # above the unigram MLE)
    "text_bigram_lm_quality",
    # round-5: hot-bucket-safe grid-tiled LSH pair join (window index
    # + explode replication + cell equi-join — the triangle-tiling
    # plan shape), and the json-format QA DAG (from_json struct
    # filter + JVM XML render through the reduce/judge chain)
    "dedup_lsh_pairs_grid",
    "pipeline_e2e_answers_json",
    # round-5 (cont.): the shared tiler applied to the Hamming-band
    # join, and the plain_text 0-100 score DAG
    "dedup_simhash_pairs_grid",
    "pipeline_e2e_answers_plain",
    "pipeline_e2e_answers_baseline",
    # round-6: incremental IVF maintenance (frozen-centroid delta
    # routing + union serve — the index-lifecycle plan shape), and
    # the all-integer temperature-mixture hash-Bernoulli sampler
    "ann_ivf_incremental_topk",
    "sample_temperature_mix",
    # round-6 (cont.): interpolated trigram LM — five count shuffles
    # assembled into a probability spine on the distinct-trigram
    # table, events join once (the plan shape that keeps the event
    # stream to a single join at 100 TB)
    "text_trigram_interp_quality",
    # round-9: tokenizer-exact chunking under the in-engine-trained
    # BPE — the tokenize→chunk corpus path as pure JVM string
    # expressions (sentinel-delimited bounded-pass merges), no Python
    "bpe_chunk_documents_exact",
    "bpe_vocab_chunk_documents",
    # round-10: winnowing exact-substring dedup (linear fingerprint
    # scan -> candidate doc slice -> exact gram verify)
    "dedup_exact_substring",
    # round-11: per-doc suffix-automaton stats (Arrow mapInPandas CPU
    # lane), joint one-vs-all perceptron epochs (map-literal margins
    # x K classes), and the URL-host rollup ∘ PageRank composition.
    # dedup_substring_trim is NOT here: under bench's count() action
    # Catalyst provably prunes its row-preserving trim pipeline
    # (SCALE.md round-11 measurement note) — the scale study carries
    # its honest forced measurement instead.
    "text_substring_diversity",
    "classifier_langid_multiclass",
    "host_frontier_rank",
    # round-12: the seq2seq-NLL pair scorer (BARTScore shape) through
    # the Arrow pair-scorer harness, and the banded distributed rank
    # that replaced the ordering ops' single-task windows
    "u6_s2s_unigram_nll",
    "train_epoch_shuffle",
    "pack_curriculum_layout",
    # round-12 (cont.): DSIR hashed-n-gram importance selection — one
    # (doc,bucket) count shuffle, two broadcast bucket dictionaries,
    # TakeOrderedAndProject top-N
    "dsir_importance_select",
    # round-12 (cont.): uncapped SAM LCS containment over the LSH
    # pair set (Arrow mapInPandas over banded candidates)
    "dedup_lcs_containment",
    "text_longest_repeat_uncapped",
    # round-12 (cont.): mergeable sketches — constant-size groupBy
    # state, map-side combine IS the sketch merge
    "sketch_countmin_grams",
    "sketch_hll_distinct",
    "train_shard_balance",
    "sketch_bloom_contamination",
    "sketch_hll_users_daily",
    # round-13: dedup × multimodal — dHash over REAL decoded pixels,
    # Manku-banded pair join through the grid tiler
    "dedup_image_phash_pairs",
    # round-13 (cont.): the fourth sketch — deterministic adaptive
    # hash-level quantile sampler (mergeable per-row retention
    # predicate; only corpus-sized agg is the ≤49-row level groupBy)
    "sketch_quantile_doclen",
    # round-13 (cont.): integer-weighted MinHash (idf-banded shingle
    # replication — boilerplate-resistant weighted Jaccard)
    "dedup_weighted_minhash_pairs",
    # round-14: CCNet bucketing via grouped-sketch cutoffs (unigram
    # LM + capacity-bounded sampler + broadcast CASE), and UniMax
    # water-filling (one corpus count pass + domain-sized windows)
    "quality_ccnet_buckets",
    "mixture_unimax_allocation",
    # round-15: the promoted tokenizer-exact defaults (F2 at reference
    # 32768/4096 token budgets; the full default-model QA DAG) and the
    # staged master keep-list (sequential lane materialization → CC
    # from parquet pair tables — the production curation shape and the
    # round's scale-fix centerpiece)
    "f2_chunk_documents",
    "pipeline_e2e_answers_bpe",
    "dedup_master_keep_list_staged",
    "dedup_master_keep_list_incremental",
]


def _shuffle_probe(spark):
    """Return a callable that diffs completed-stage shuffle totals via
    the REST status API (None if the UI is unavailable — shuffle
    accounting is additive, never a reason for bench to fail)."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    url = f"{ui}/api/v1/applications/{spark.sparkContext.applicationId}/stages?status=complete"

    def snapshot():
        try:
            with urllib.request.urlopen(url, timeout=5) as r:
                stages = json.load(r)
        except Exception:
            return None
        return {
            st["stageId"]: (
                st.get("shuffleReadBytes", 0),
                st.get("shuffleWriteBytes", 0),
            )
            for st in stages
        }

    return snapshot


# Lanes with cross-trial engine state (localCheckpoint rounds inside
# the query): their trial walls historically grew monotonically within
# one session (r13 classifier 5.1→15.2→21.2 s, r14 CC 10→15→25 s)
# because checkpoint blocks outlive the trial. They get extra trials
# (median of 5, not 3) so any residual cross-trial drift is visible in
# the sidecar instead of deciding the headline from one noisy pair.
ITERATIVE_LANES = {
    "dedup_cluster_canonical",
    "classifier_langid_train",
    "classifier_langid_multiclass",
    "bpe_train_merges_batched",
    "pagerank_links",
    "host_frontier_rank",
    "kmeans_cluster_sizes",
}


def _git_sha(root):
    """Current commit hash (best effort, no subprocess — bench must
    not fork under a loaded box): read .git/HEAD and its ref file."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref:"):
            with open(os.path.join(root, ".git", head.split(None, 1)[1])) as f:
                return f.read().strip()
        return head
    except OSError:
        return None


def _calibration_probe(spark):
    """Fixed-work probe (range-sum over 2^28 longs, pure JVM, no
    shuffle): its wall time moves with host contention exactly like
    the query walls do, so total/probe is a machine-speed-normalized
    number comparable across rounds on a noisy host. Round-13 verdict
    measured 105.9 s vs 288.1 s for the SAME tree in different host
    sessions — raw wall alone is not a cross-round signal here."""
    t0 = time.time()
    spark.range(2 ** 28).selectExpr("sum(id)").collect()
    return round(time.time() - t0, 3)


def main():
    # UI on for shuffle accounting (per-query read/write bytes — a
    # shuffle regression is as real as a wall-time one and survives
    # machine-speed noise across rounds).
    # Machine settle: runs launched right after a big pytest/compile
    # read ~10% slow until the previous JVM's pages are reclaimed
    # (measured round 9: 100.5 s immediately after the suite vs 91.2 s
    # after a settle — same tree). Wait for the 1-min load average to
    # drop below half the core count, up to 60 s; on an idle machine
    # this costs nothing.
    if hasattr(os, "getloadavg"):
        # threshold on the MACHINE's cores, not the Spark thread count
        # (on an 8-core box local[32] after a pytest sweep would never
        # trip a 32-based gate — round-10 review finding)
        cpus = min(
            int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
            os.cpu_count() or 32,
        )
        waited = 0.0
        while os.getloadavg()[0] > cpus / 2 and waited < 60:
            time.sleep(5)
            waited += 5
        if waited:
            print(f"bench: settled {waited:.0f}s for load", file=sys.stderr)
    spark = get_spark("bench", extra_conf={"spark.ui.enabled": "true"})
    spark.range(1).count()  # warm up JVM/session so q1 isn't charged startup
    from finmapreduce_spark.session import TABLES, read_table

    for t in TABLES:  # resolve schemas (footer metadata only, no compute)
        read_table(spark, SF_DIR, t)
    # materialize the binary asset store and the IVF index (one-time
    # data/index prep, like the testdata itself) so multimodal and
    # persisted-ANN timings measure decode/serve, not the build write
    from finmapreduce_spark.queries.similarity import materialize_ivf_index
    from finmapreduce_spark.sources.asset_store import materialize_assets

    materialize_assets(spark, SF_DIR)
    materialize_ivf_index(spark, SF_DIR)
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(os.environ.get("BENCH_EXTRA", "").split(",")) if n in qs
    ]
    probe = _shuffle_probe(spark)
    n_trials = max(1, int(os.environ.get("BENCH_TRIALS", "3")))
    started_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    calib_start = _calibration_probe(spark)
    timings = {}
    rows = {}
    shuffle = {}
    trials = {}
    trial_rows = {}
    trial_load = {}
    rows_drifted = []
    total = 0.0
    for name in names:
        before = probe() if probe else None
        per_trial = []
        per_trial_rows = []
        per_trial_la = []
        n = None
        lane_trials = (
            max(n_trials, 5) if name in ITERATIVE_LANES else n_trials
        )
        for t in range(lane_trials):
            per_trial_la.append(
                round(os.getloadavg()[0], 2)
                if hasattr(os, "getloadavg")
                else None
            )
            t0 = time.time()
            df = qs[name].spark(spark, SF_DIR)
            n_t = df.count()
            per_trial.append(round(time.time() - t0, 3))
            per_trial_rows.append(n_t)
            if n is None:
                n = n_t
            elif n_t != n:
                rows_drifted.append(name)
                # nondeterministic cardinality is itself a regression
                print(
                    f"bench: {name} rows drifted across trials "
                    f"({n} vs {n_t})",
                    file=sys.stderr,
                )
            # drop caches a query legitimately left behind (iterative
            # trainers persist their feature/vocab tables into the
            # returned plan) so later queries/trials aren't measured
            # under the accumulated memory pressure of earlier ones
            spark.catalog.clearCache()
            # localCheckpoint blocks (BPE merge rounds, connected
            # components) are NOT covered by clearCache. Drop the
            # Python refs, then synchronously unpersist every
            # remaining persistent RDD (blocking=True) — the r14
            # gc.collect()-only variant left removal to the async
            # ContextCleaner and the CC lane still grew 10→15→25 s
            # across trials in the committed close record.
            df = None
            gc.collect()
            release_all_persistent_rdds(spark)
            if t == 0 and probe is not None:
                # shuffle volume is plan-determined — one measurement
                after1 = probe()
                if before is not None and after1 is not None:
                    new = {
                        k: v for k, v in after1.items() if k not in before
                    }
                    shuffle[name] = {
                        "read_mb": round(
                            sum(v[0] for v in new.values()) / 1e6, 3
                        ),
                        "write_mb": round(
                            sum(v[1] for v in new.values()) / 1e6, 3
                        ),
                    }
        dt = round(sorted(per_trial)[len(per_trial) // 2], 3)  # median
        timings[name] = dt
        trials[name] = per_trial
        trial_rows[name] = per_trial_rows
        trial_load[name] = per_trial_la
        rows[name] = n  # cardinality: catches silent result drift across rounds
        total += dt
    calib_end = _calibration_probe(spark)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    out = {
        "metric": "headline_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
    }
    # Row counts + shuffle bytes are regression signal too, but they
    # triple the line length and the driver's capture truncates long
    # stdout — keep the contract line compact and park detail in a
    # sidecar next to this script.
    # trial_rows + rows_drifted make cross-trial nondeterminism (a
    # regression in its own right) visible to JSON consumers, not
    # just the stderr stream (round-12 advice)
    calib_mean = round((calib_start + calib_end) / 2, 3)
    root = os.path.dirname(os.path.abspath(__file__))
    import re as _re

    rounds = [
        int(m.group(1))
        for p in os.listdir(root)
        if (m := _re.match(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    # The CURRENT round: explicit BENCH_ROUND wins; else 1 + the
    # newest driver CORRECTNESS record (the driver writes round N's
    # correctness at round N's END, so during round N+1 the newest on
    # disk is N). Round 14's close record landed under the NEXT
    # round's filename because this was inferred only at archive time
    # with nothing stamped inside the record (VERDICT r14 "What's
    # wrong" #3) — now the round, git SHA and start time are inside
    # the sidecar, so a misnamed file is self-describing.
    bench_round = int(
        os.environ.get("BENCH_ROUND", (max(rounds) + 1) if rounds else 0)
    )
    detail = dict(
        out,
        round=bench_round,
        git_sha=_git_sha(root),
        started_at=started_at,
        rows=rows,
        shuffle=shuffle,
        trials=trials,
        trial_rows=trial_rows,
        trial_load=trial_load,
        rows_drifted=sorted(set(rows_drifted)),
        # Host-noise instrumentation (r13 verdict Next-round #4):
        # calibration_sec is the fixed-work probe's wall at run start/
        # end; normalized_total (= total / mean probe) is the
        # machine-speed-adjusted headline, the number to trend across
        # rounds on this host. Shuffle volumes stay the PRIMARY
        # cross-round gate (tools/bench_trend.py).
        calibration_sec={"start": calib_start, "end": calib_end},
        normalized_total=(
            round(total / calib_mean, 2) if calib_mean > 0 else None
        ),
    )
    sidecar = os.path.join(root, "BENCH_DETAILS.json")
    try:
        with open(sidecar, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the stdout line is the contract
    # Per-round archive so bench_trend can diff rounds including the
    # shuffle sidecar (the driver's BENCH_r{N} keeps wall only).
    # Only the DEFAULT scale factor archives: a quick sf0.001 smoke
    # run must not clobber the round's representative sf0.1 record.
    if bench_round and os.path.realpath(SF_DIR) == os.path.realpath(
        DEFAULT_SF_DIR
    ):
        archive = os.path.join(
            root, f"BENCH_DETAILS_r{bench_round:02d}.json"
        )
        # never clobber an existing round archive (the r13 judge's
        # re-run overwrote the driver's untracked sidecar — VERDICT
        # r13 disclosure): later same-round runs get a .rerunN name.
        k = 1
        while os.path.exists(archive):
            archive = os.path.join(
                root, f"BENCH_DETAILS_r{bench_round:02d}.rerun{k}.json"
            )
            k += 1
        try:
            with open(archive, "w") as f:
                json.dump(detail, f, indent=1, sort_keys=True)
        except OSError:
            pass
    # The headline JSON also lands in a file: the driver's BENCH_r14
    # record captured only a truncated stdout tail with parsed: null,
    # so the contract line now has a durable, unambiguous twin. Same
    # default-SF guard as the archive — an sf0.001 smoke must not
    # clobber the round's representative record.
    if os.path.realpath(SF_DIR) != os.path.realpath(DEFAULT_SF_DIR):
        sys.stdout.flush()
        print(json.dumps(out), flush=True)
        return
    try:
        with open(os.path.join(root, "BENCH_HEADLINE.json"), "w") as f:
            json.dump(
                dict(
                    out,
                    round=bench_round,
                    git_sha=_git_sha(root),
                    started_at=started_at,
                ),
                f,
                indent=1,
                sort_keys=True,
            )
    except OSError:
        pass
    sys.stdout.flush()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
