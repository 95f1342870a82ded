"""Physical-plan assertions — the scale contract, enforced.

Correctness says the operators compute the right rows; these tests pin
the plan SHAPES that make them viable at 100 TB: dimension joins
broadcast (never sort-merge a small dim), filters and column pruning
reach the parquet scan, aggregations partial-agg before the shuffle,
the as-of join stays join-free (window formulation), and scans with no
wide ops produce zero exchanges. A regression here (e.g., a refactor
that breaks broadcastability or pushdown) fails CI even though results
stay correct.
"""

from __future__ import annotations

import pytest

from finmapreduce_spark.queries import all_queries

QS = all_queries()


def plan_of(df) -> str:
    jexec = df._jdf.queryExecution()
    mode = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jexec.explainString(mode)


def test_q1_pruning_and_partial_agg(spark, sf_dir):
    plan = plan_of(QS["q1_pricing_summary"].spark(spark, sf_dir))
    # column pruning into the scan: 5 needed columns, none of the rest
    assert "l_returnflag" in plan and "ReadSchema" in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema
    # map-side combine before the shuffle
    assert "partial_sum" in plan and "partial_count" in plan
    assert "Join" not in plan


def test_q5_star_join_broadcasts_dims(spark, sf_dir):
    plan = plan_of(QS["q5_regional_revenue"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters: [IsNotNull" in plan


def test_j1_doc_join_is_broadcast(spark, sf_dir):
    plan = plan_of(QS["j1_broadcast_left_join"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_join_is_window_not_join(spark, sf_dir):
    """The union-and-window as-of join must not degrade into a range
    join (BroadcastNestedLoop / Cartesian) — that is its entire point."""
    plan = plan_of(QS["asof_join_events"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" in plan
    # both event_type filters pushed into the parquet scan
    assert plan.count("EqualTo(event_type,") >= 2


def test_topk_window_gets_partial_group_limit(spark, sf_dir):
    """The rank-filter window must keep Catalyst's map-side prune:
    Sort(local) -> WindowGroupLimit(Partial) BEFORE the exchange, so
    the shuffle carries <=k rows per group per partition, not the fact
    table. Losing this (e.g., by rewriting the filter so the pushdown
    no longer fires) is a 100-TB regression that results can't see."""
    plan = plan_of(QS["w3_topk_per_group"].spark(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan
    # partial limit sits below the exchange: tree prints top-down, so
    # the FIRST WindowGroupLimit line is the final one, the second the
    # partial one under the Exchange
    tree = plan[: plan.index("(1) Scan")]
    lines = [l for l in tree.splitlines() if "WindowGroupLimit" in l or "Exchange" in l]
    assert [("Exchange" in l) for l in lines] == [False, True, False]


def test_topk_pruned_variant_single_exchange_after_arrow_prune(spark, sf_dir):
    """The explicit bounded prune: scan reaches MapInPandas with no
    exchange; the single exchange in the plan sits above it."""
    plan = plan_of(QS["w3_topk_per_group_pruned"].spark(spark, sf_dir))
    assert "MapInPandas" in plan
    tree = plan[: plan.index("(1) Scan")]
    assert tree.count("Exchange") == 1
    # MapInPandas is deeper in the tree (printed later) than the Exchange
    assert tree.index("Exchange") < tree.index("MapInPandas")


def test_passage_text_join_broadcasts_spans(spark, sf_dir):
    """The passage report's slice-back join must broadcast the tiny
    span table onto the corpus scan — a sort-merge here would shuffle
    the full corpus to decorate a few hundred spans."""
    plan = plan_of(QS["dedup_duplicate_passages"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """The 100-TB lever for selective fact×dim joins that cannot
    broadcast: Spark's runtime bloom filter builds a filter from the
    dim side's join keys and prunes fact rows BEFORE the shuffle
    (might_contain on the fact scan). Locally the fact scan is far
    under the 10 GB applicationSideScanSizeThreshold, so the test
    zeroes it — at production scale the default threshold fires on
    its own. Pins both halves of the mechanism (bloom_filter_agg on
    the creation side, might_contain on the application side) and
    result equality with the unfiltered plan."""
    from pyspark.sql import functions as F  # noqa: F401

    from finmapreduce_spark.session import read_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # broadcast would subsume it
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None

    def query():
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").filter(
            "o_orderpriority = '1-URGENT'"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )

    baseline = query().collect()
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = query()
        plan = plan_of(df)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, baseline))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_corpus(spark, sf_dir, tmp_path):
    """Joining the lang-partitioned corpus layout against a dim whose
    lang set is only known at runtime (filtered on another attribute)
    must prune partitions DYNAMICALLY — the scan's PartitionFilters
    carries a dynamicpruning subquery fed by the dim. This is how a
    corpus join touches 3 of 30 language dirs at 100 TB without the
    query author listing them."""
    from finmapreduce_spark.session import read_table
    from finmapreduce_spark.sources.sinks import save_corpus

    out = str(tmp_path / "corpus_dpp")
    save_corpus(read_table(spark, sf_dir, "documents"), out)
    part = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("en", "EU"), ("de", "EU"), ("fr", "EU"), ("es", "NA"), ("zh", "APAC")],
        "lang string, region string",
    ).filter("region = 'EU'")
    j = part.join(dim, "lang").groupBy("lang").count()
    plan = plan_of(j)
    assert "dynamicpruningexpression" in plan
    assert j.count() > 0


def test_band_join_is_hash_join(spark, sf_dir):
    """Bucket blocking must turn the time-band inequality into an
    equi hash join; the inequality only post-filters candidates."""
    plan = plan_of(QS["range_join_band_count"].spark(spark, sf_dir))
    assert "HashJoin" in plan  # broadcast or shuffled — either is fine
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scan_project_has_no_exchange(spark, sf_dir):
    """Pure scan+project+limit: any Exchange here is a bug."""
    plan = plan_of(QS["s1_scan_project"].spark(spark, sf_dir))
    assert "Exchange" not in plan


@pytest.mark.parametrize(
    "name", ["pipeline_e2e_answers", "truncation_e2e_answers"]
)
def test_llm_stages_are_arrow_batched(spark, sf_dir, name):
    """LLM stages must be Arrow mapInPandas/applyInPandas boundaries,
    never row-at-a-time BatchEvalPython."""
    plan = plan_of(QS[name].spark(spark, sf_dir))
    assert "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan
    assert "!BatchEvalPython" not in plan.replace("ArrowEvalPython", "")


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Both sides written bucketed on the join key -> the sort-merge
    join reads co-located buckets and the plan has NO Exchange. This
    is the storage-layout contract for repeated big-big joins at
    100 TB (bucketBy at write time amortizes the shuffle across every
    downstream join)."""
    import uuid

    from pyspark.sql import functions as F

    from finmapreduce_spark.session import read_table

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    suffix = uuid.uuid4().hex[:8]
    li_tbl, o_tbl = f"li_b_{suffix}", f"o_b_{suffix}"
    try:
        # external-table paths keep the warehouse out of the repo cwd
        read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
            "path", str(tmp_path / "li")
        ).saveAsTable(li_tbl)
        read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ).write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
            "path", str(tmp_path / "o")
        ).saveAsTable(o_tbl)

        joined = spark.table(li_tbl).join(
            spark.table(o_tbl),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # buckets are co-located: no shuffle
        n = joined.count()
        want = (
            read_table(spark, sf_dir, "lineitem")
            .join(
                read_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert n == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {li_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_q6_all_predicates_pushed(spark, sf_dir):
    """The pushdown showcase: every q6 predicate reaches the parquet
    scan; no join, no wide op besides the single agg exchange."""
    plan = plan_of(QS["q6_forecast_revenue"].spark(spark, sf_dir))
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for frag in ("l_shipdate", "l_discount", "l_quantity", "GreaterThanOrEqual",
                 "LessThan"):
        assert frag in pushed
    assert "Join" not in plan


def test_q19_disjunction_stays_hash_join(spark, sf_dir):
    """OR'd residual predicates must not demote the equi join to a
    nested loop."""
    plan = plan_of(QS["q19_disjunctive_revenue"].spark(spark, sf_dir))
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- M47 decision-support shapes: scale contracts pinned -------------------


def test_q8_all_dims_broadcast_and_filters_pushed(spark, sf_dir):
    """The widest join tree stays broadcast-only (fact shuffles once,
    into the agg) and the two selective dim filters reach the scans."""
    plan = plan_of(QS["q8_market_share"].spark(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EqualTo(p_type,ECONOMY)" in plan
    assert "EqualTo(r_name,ASIA)" in plan


def test_q10_topk_is_heap_not_global_sort(spark, sf_dir):
    plan = plan_of(QS["q10_returned_top_customers"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # date filter pushed


def test_q13_aggregates_below_outer_join(spark, sf_dir):
    """Orders collapse to per-customer counts BEFORE the outer join
    (manual agg pushdown); the pre-agg then broadcasts. If a refactor
    joins raw orders first, the BroadcastExchange-over-HashAggregate
    sandwich disappears and this fails."""
    plan = plan_of(QS["q13_order_count_distribution"].spark(spark, sf_dir))
    assert "BroadcastHashJoin LeftOuter" in plan
    agg_ids = [
        int(line.split("(")[-1].rstrip(")").strip())
        for line in plan.splitlines()
        if line.strip().endswith(")") and "HashAggregate (" in line
    ]
    join_line = next(l for l in plan.splitlines() if "BroadcastHashJoin" in l)
    join_id = int(join_line.split("(")[-1].rstrip(")").strip())
    assert any(a < join_id for a in agg_ids), "no aggregate below the join"


def test_q17_single_window_exchange_no_second_scan(spark, sf_dir):
    """Decorrelation contract: ONE shuffle (the l_partkey window), not
    the agg+join-back's two, and only one lineitem scan."""
    plan = plan_of(QS["q17_small_quantity_revenue"].spark(spark, sf_dir))
    assert "Window" in plan
    assert "SortMergeJoin" not in plan
    n_scans = sum(
        1
        for l in plan.splitlines()
        if l.startswith("(") and "Scan parquet" in l
    )
    assert n_scans == 2  # lineitem once, part once
    # exchanges: window shuffle + final single-partition agg only
    assert plan.count("+- Exchange") <= 2


def test_q18_having_survivors_broadcast(spark, sf_dir):
    plan = plan_of(QS["q18_large_volume_customers"].spark(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q22_anti_join_with_pruned_build_side(spark, sf_dir):
    plan = plan_of(QS["q22_idle_customers"].spark(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate,2001-01-01" in plan


def test_q16_distinct_agg_two_phase_and_anti_broadcast(spark, sf_dir):
    """count(DISTINCT) must expand to the two-phase agg (dedup then
    count) and the bad-supplier exclusion must stay a broadcast anti
    join — no SortMergeJoin anywhere."""
    plan = plan_of(QS["q16_supplier_diversity"].spark(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # 2 phases × partial/final


def test_events_json_extract_no_python_udf(spark, sf_dir):
    """JSON extraction stays JVM-side: no BatchEvalPython / Arrow eval
    in the plan, and the shuffle carries the partial agg."""
    plan = plan_of(QS["events_json_extract"].spark(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "partial_avg" in plan


def test_q21_single_lineitem_scan_no_self_join(spark, sf_dir):
    """The q21 rewrite's whole point: the double EXISTS/NOT-EXISTS
    must NOT become two extra lineitem self-joins — one scan of the
    fact table, one set-valued per-order aggregate."""
    plan = plan_of(QS["q21_sole_late_suppliers"].spark(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, "lineitem self-join crept back"
    assert "ObjectHashAggregate" in plan  # collect_set per order
    assert "CartesianProduct" not in plan


def test_q9_dims_broadcast_fact_crosses_once(spark, sf_dir):
    """part/supplier/nation broadcast; at most the orders join may
    shuffle the fact table — never a dim sort-merge."""
    plan = plan_of(QS["q9_product_profit"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l and "p_name" in l)
    assert "StringContains" in pushed  # LIKE '%widget%' reaches the scan


def test_q2_decorrelated_min_is_single_window_scan(spark, sf_dir):
    """The correlated scalar-min subquery must decorrelate to ONE
    window over one scan of the part-pruned lines — not an aggregate
    plus a join back to a second scan."""
    plan = plan_of(QS["q2_min_cost_supplier"].spark(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan


def test_q20_window_over_preaggregated_pairs(spark, sf_dir):
    """The per-part total is a window over the (part, supplier) AGG
    output — raw lines never reach the window — and the qualifying
    supplier set enters as a broadcast semi join."""
    plan = plan_of(QS["q20_dominant_suppliers"].spark(spark, sf_dir))
    assert "Window" in plan
    assert "LeftSemi" in plan
    # partial agg below the window's exchange: HashAggregate appears
    # on the map side before any window node
    assert plan.index("HashAggregate") < plan.index("Window")


def test_scd2_windows_share_one_exchange(spark, sf_dir):
    """Change-detection and version-numbering windows partition and
    order identically, so the plan must contain exactly ONE shuffle —
    chained Window nodes, not one per window."""
    plan = plan_of(QS["scd2_event_type_history"].spark(spark, sf_dir))
    assert plan.count("+- Exchange") == 1
    assert plan.count("Window") >= 2


def test_sample_weighted_is_takeordered_not_sort(spark, sf_dir):
    """Global top-k must plan as TakeOrderedAndProject (per-partition
    heap + driver merge), never a full global Sort."""
    plan = plan_of(QS["sample_weighted"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


@pytest.mark.parametrize(
    "name", ["kmeans_cluster_sizes", "ann_ivf_kmeans_topk"]
)
def test_ann_training_family_never_sort_merges(spark, sf_dir, name):
    """Train and cell-search join only tiny relations (centroid
    tables, the query set) against the corpus: a SortMergeJoin means
    a broadcast was lost — window-derived sides have no stats, so the
    implementations must HINT the broadcast explicitly."""
    plan = plan_of(QS[name].spark(spark, sf_dir))
    assert "SortMergeJoin" not in plan


def test_kmeans_assign_is_zero_shuffle_fold(spark, sf_dir):
    """Nearest-centroid assignment must be ZERO-shuffle on the vector
    leg: the K centroids collapse to one broadcast array row and each
    vector folds its argmax in place — never a row_number window over
    N×K candidate rows (round-7 advice #3), and never an N-row
    groupBy whose partial+final exchange ships every vector (the r8
    struct-max regression VERDICT r8 Wrong #1 measured: shuffle read
    UP 1.75→2.34 MB). Permitted exchanges: broadcasts, the
    SinglePartition collapse of the K-row centroid table, and the
    constant-size __dim guard agg inside emb_table."""
    from finmapreduce_spark.queries.similarity import _assign, _emb, _train_centroids

    v = _emb(spark, sf_dir)
    plan = plan_of(_assign(v, _train_centroids(v)))
    assert "Window" not in plan
    # the vector table's argmax is a per-row fold, not an aggregation:
    # no exchange may hash-partition by vec_id anywhere in the plan
    assert "hashpartitioning(vec_id" not in plan
    # the broadcast of the collapsed centroid array must survive
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize(
    "name", ["bpe_chunk_documents_exact", "bpe_truncate_documents_exact"]
)
def test_bpe_exact_lane_corpus_path_is_single_scan(spark, sf_dir, name):
    """The tokenize→chunk/truncate corpus path must stay ONE parquet
    scan of documents with pure JVM string expressions: no join, no
    Python (BatchEvalPython/ArrowEvalPython) anywhere in the final
    plan — training collects run as separate bounded jobs before the
    plan is built. The ONLY exchange allowed is the guarded
    scan-parallelism floor (operators/parallelism.py, round 15): a
    deterministic hashpartitioning repartition of the scan that
    exists exactly when the corpus scans narrower than the session —
    a no-op at production scale. The tokenizer itself must stay above
    a single scan with no other shuffle."""
    plan = plan_of(QS[name].spark(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 1, tree
    if "Exchange" in tree:
        assert "hashpartitioning(doc_id" in plan, plan
    assert "Join" not in plan
    assert "EvalPython" not in plan
    # formatted explain repeats each node in the details section —
    # count scans in the tree section only
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree


def test_pq_only_corpus_codes_join_may_shuffle(spark, sf_dir):
    """PQ's centroid and query-dot-table joins broadcast; the ONE
    permitted shuffle join is codes0⋈codes1 — a corpus-sized self
    join where co-partitioning is the correct plan at scale and a
    broadcast would be the bug."""
    plan = plan_of(QS["ann_pq_adc_topk"].spark(spark, sf_dir))
    nodes = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and "SortMergeJoin" in l
    ]
    assert len(nodes) <= 1, nodes


def test_vocab_head_coverage_plans_takeordered(spark, sf_dir):
    """The top-K must compile to TakeOrderedAndProject (per-partition
    heap + K-row merge) — never a full global sort — and the only
    window in the plan runs after the K-row limit."""
    df = QS["vocab_head_coverage"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort [c" not in plan.split("TakeOrderedAndProject")[0]


def test_unigram_logprob_total_is_broadcast(spark, sf_dir):
    """The corpus-total 1-row aggregate must join in as a broadcast
    (BroadcastNestedLoopJoin over one row), not a shuffled cross
    join; the vocab join stays an equi-join on the word."""
    df = QS["unigram_logprob_quality"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_embedding_cosine_grid_joins_on_bounded_keys(spark, sf_dir):
    """The exact pair join's key set must include the chunk-task ids
    (label, i, j) — the bounded-bucket guarantee — and the splits
    dimension must broadcast."""
    import re as _re

    df = QS["dedup_embedding_cosine"].spark(spark, sf_dir)
    plan = plan_of(df)
    # the pair join's equi-key list must be exactly (label, i, j) —
    # whatever physical join strategy AQE picks for the data size
    key_lists = _re.findall(r"Left keys \[\d+\]: \[([^\]]+)\]", plan)
    assert any(
        "label#" in k and "i#" in k and "j#" in k for k in key_lists
    ), key_lists


def test_hashing_bow_cosine_single_arrow_stage(spark, sf_dir):
    """The model UDF must appear as ArrowEvalPython stages (vectorized
    Arrow exchange), never row-at-a-time BatchEvalPython."""
    df = QS["u6_hashing_bow_cosine"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_token_topk_is_heap_not_global_window(spark, sf_dir):
    """text_token_topk must top-K the vocab via TakeOrderedAndProject
    (per-partition heap + K-row merge), with the only unpartitioned
    window running over K rows — never a single-partition sort of the
    full distinct-token table."""
    df = QS["text_token_topk"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    # the window must sit ABOVE the take (limit), i.e. the plan has no
    # global Sort node feeding the Window other than the K-row one
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_cli_qa_id_has_no_global_window(spark, sf_dir, tmp_path):
    """CLI qa_id derives from xxhash64, not row_number over an
    unpartitioned window — the QA DAG must contain no WindowExec that
    moves the whole QA table to one partition."""
    import json as _json

    qa_path = tmp_path / "qa.jsonl"
    rows = [
        {"financebench_id": f"fb{i}", "doc_name": f"d{i%3}",
         "question": f"q{i}?", "answer": str(i)}
        for i in range(9)
    ]
    qa_path.write_text("\n".join(_json.dumps(r) for r in rows))
    from finmapreduce_spark.sources.readers import load_financebench
    from pyspark.sql import functions as F

    qa_raw = load_financebench(spark, str(qa_path))
    qa = qa_raw.withColumn(
        "qa_id", F.xxhash64("doc_name", "question").cast("long")
    )
    plan = plan_of(qa)
    assert "Window" not in plan
    ids = [r.qa_id for r in qa.select("qa_id").collect()]
    assert len(ids) == len(set(ids)) == 9


def test_multimodal_codec_stages_are_arrow_batched(spark, sf_dir):
    """The decode/featurize mapInPandas must run as an Arrow-
    vectorized Python stage — never row-at-a-time BatchEvalPython —
    fed directly by the binary asset-store scan (payload synthesis
    happens once at store-write time, not in the query plan), and the
    decode must be a narrow map (no Exchange between scan and
    featurize)."""
    import re as _re

    df = QS["multimodal_decode_features"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan
    assert "fmr_asset_store" in plan  # reads the materialized store
    assert "MapInPandas" in plan  # decode/featurize stage
    # decode is a narrow map: every Exchange sits ABOVE the Python
    # stages (formatted-mode ids grow toward the root, so each
    # Exchange id must exceed the MapInPandas id)
    map_id = int(_re.search(r"\((\d+)\) MapInPandas", plan).group(1))
    for m in _re.finditer(r"\((\d+)\) Exchange", plan):
        assert int(m.group(1)) > map_id, plan


def test_gopher_and_html_extract_are_narrow_scans(spark, sf_dir):
    """The Gopher rule battery and the HTML extraction chain are pure
    per-row projections: their plans must contain NO exchange (shuffle)
    and no Python eval — at 100 TB they run at scan speed."""
    for name in ("text_gopher_rules", "text_html_extract"):
        plan = plan_of(QS[name].spark(spark, sf_dir))
        assert "Exchange" not in plan, name
        assert "EvalPython" not in plan, name


def test_classifier_margins_inline_weights_no_python(spark, sf_dir):
    """The trained model must ride the plan as an inlined array
    literal (the O(dim) model never joins as a table), the margin
    pass must stay fully JVM-side, and the persisted feature table
    must be reused across the final margin/averaged-margin scans
    rather than recomputed from the corpus."""
    df = QS["classifier_langid_train"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2, "feat cache not reused"


def test_multimodal_ann_scans_prune_store(spark, sf_dir):
    """The asset-store scans under the decode stages must carry BOTH
    prunings: kind=='image' as a PartitionFilter (audio/video dirs
    never opened) and the asset_id query/corpus split as PushedFilters
    (row-group skipping) — mapInPandas blocks pushdown, so the filters
    must sit below it."""
    plan = plan_of(QS["multimodal_ann_topk"].spark(spark, sf_dir))
    assert plan.count("PartitionFilters: [isnotnull(kind") >= 2
    assert "LessThan(asset_id,30)" in plan
    assert "GreaterThanOrEqual(asset_id,30)" in plan


def test_quantize_int8_is_narrow_scan(spark, sf_dir):
    """Scalar quantization is a per-row projection: no Exchange, no
    Python — at 100 TB it's the map stage of the index-shard write."""
    plan = plan_of(QS["embedding_quantize_int8"].spark(spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_cleaning_report_single_shuffle_partial_agg(spark, sf_dir):
    """The composed extract∘gate∘fingerprint funnel must reach its one
    groupBy(source) as column expressions: exactly the aggregation
    exchanges (no join), partial aggregation below them, no Python."""
    plan = plan_of(QS["cleaning_pipeline_report"].spark(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert "partial_" in plan


def test_ivf_persisted_index_probes_via_dpp(spark, sf_dir):
    """Serving from the stored IVF layout must probe cells by DYNAMIC
    partition pruning: the vectors scan's PartitionFilters carries a
    dynamicpruning subquery fed by the broadcast query-routing side —
    only probed cid directories are opened. A plan without it scans
    the whole index per batch."""
    plan = plan_of(QS["ann_ivf_persisted_topk"].spark(spark, sf_dir))
    assert "dynamicpruningexpression(cid" in plan
    assert "fmr_ivf_index" in plan


def test_pagerank_rounds_are_equi_joins(spark, sf_dir):
    """Each propagation round must be an equi-join (ranks x edges on
    src) + hash aggregate on dst — never a cartesian/broadcast-loop —
    and the whole K-round plan stays JVM-side."""
    plan = plan_of(QS["pagerank_links"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


# slow (≈30 s): long-horizon convergence mode; the fixed-iteration
# pagerank oracle tests run by default.
@pytest.mark.slow
def test_pagerank_convergence_mode_reaches_fixpoint(spark, sf_dir):
    """Convergence mode (n_iters=None) must terminate at the integer
    fixpoint (L1 delta 0) within the iteration budget, and the
    converged ranks must BE a fixpoint: one more fixed round changes
    nothing. Also pins that the fixed-iteration catalog setting is a
    prefix of the same trajectory (round-PR_ITERS ranks match
    pagerank_links exactly) — the convergence path reuses the
    identical step, not a parallel implementation."""
    from finmapreduce_spark.queries.dedup import (
        PR_ITERS,
        _docs,
        _pr_edges,
        pagerank_ranks,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    edges = _pr_edges(docs, n)
    converged = pagerank_ranks(
        docs, edges, n_iters=None, checkpoint_every=2, tol=0
    )
    got = {r["doc_id"]: r["rank"] for r in converged.collect()}
    assert len(got) == n
    # fixpoint check: tol=0 certifies Σ|Δ| = 0 on the final round
    # (the exact integer fixpoint — reachable at this toy scale);
    # re-run at a different checkpoint cadence and pin determinism
    again = {
        r["doc_id"]: r["rank"]
        for r in pagerank_ranks(
            docs, edges, n_iters=None, checkpoint_every=3, tol=0
        ).collect()
    }
    assert got == again  # cadence must not affect the fixpoint
    # prefix property: the fixed-PR_ITERS branch of pagerank_ranks
    # must produce EXACTLY the catalog query's ranks (values, not
    # just keys) — the convergence path reuses the identical step,
    # not a parallel implementation
    fixed = {
        r["doc_id"]: r["rank"]
        for r in pagerank_ranks(docs, edges, n_iters=PR_ITERS).collect()
    }
    from finmapreduce_spark.queries import all_queries

    catalog = {
        r["doc_id"]: r["rank"]
        for r in all_queries()["pagerank_links"].spark(spark, sf_dir).collect()
    }
    assert fixed == catalog
    spark.catalog.clearCache()


def test_pagerank_convergence_empty_node_set_returns_immediately(spark):
    """Zero nodes is trivially converged: the L1 delta aggregate over
    an empty join is NULL, which must read as 'converged', not loop
    to max_iters and raise."""
    from finmapreduce_spark.queries.dedup import pagerank_ranks

    docs = spark.createDataFrame([], "doc_id long")
    edges = spark.createDataFrame([], "src long, dst long")
    out = pagerank_ranks(docs, edges, n_iters=None, max_iters=3)
    assert out.count() == 0


def test_pit_lookup_is_join_free_single_exchange(spark, sf_dir):
    """The point-in-time lookup must stay the union-and-window
    formulation: NO join node anywhere (the oracle's range join is
    the cross-check, not the plan), and all windows share ONE
    user_id exchange."""
    plan = plan_of(QS["scd2_point_in_time_lookup"].spark(spark, sf_dir))
    assert "Join" not in plan
    tree = plan[: plan.index("(1) Scan")]
    assert tree.count("Exchange") <= 2  # one per union branch pre-merge


def test_bigram_lm_single_corpus_pass_jvm_only(spark, sf_dir):
    """The bigram event table must be built ONCE (persisted — the
    four consumers otherwise each re-scan and re-explode the corpus:
    exactly one parquet Scan of documents may appear in the plan),
    the only cross join is the broadcast 1-row V aggregate, and the
    whole pipeline stays JVM-side."""
    import re

    plan = plan_of(QS["text_bigram_lm_quality"].spark(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # unique numbered scan nodes: the InMemoryRelation definition is
    # re-rendered per consumer, but all four render the SAME node id
    scans = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scans) == 1, scans
    assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) >= 3
    spark.catalog.clearCache()


def test_simhash_pairs_banded_join_no_cartesian(spark, sf_dir):
    """Candidate generation must be the (band, value) equi-join —
    never an all-pairs cross — and signature construction stays
    JVM-side (no Python stage)."""
    plan = plan_of(QS["dedup_simhash_pairs"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_lsh_grid_pairs_cell_equi_join_no_cartesian(spark, sf_dir):
    """The grid variant's pair build must stay an equi-join on
    (band, key, cell) — no cross product, no Python stage — and its
    per-bucket indexing must be a keyed window (partitioned by the
    bucket), never an unpartitioned global sort."""
    plan = plan_of(QS["dedup_lsh_pairs_grid"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    # the row_number window partitions by (band_id, key) — formatted
    # mode puts the spec on the node's Arguments line
    wins = [
        l
        for l in plan.splitlines()
        if "row_number() windowspecdefinition" in l
    ]
    assert wins, "in-bucket index window missing"
    assert all("band_id" in w and "key" in w for w in wins)


def test_p2_struct_filter_is_jvm_side(spark, sf_dir):
    """from_json + struct-field filter must run in the JVM: the only
    Python stages in the json-format map path are the LLM mapInPandas
    stages themselves, and the score filter sits ABOVE the map stage
    without adding an EvalPython of its own."""
    from finmapreduce_spark.plans.mapreduce import (
        MapReduceConfig,
        filter_stage,
    )
    from pyspark.sql import functions as F

    # isolate the filter: feed it a plain DataFrame, not LLM output
    cfg = MapReduceConfig(format_type="json")
    fake = spark.range(10).select(
        F.col("id").alias("qa_id"),
        F.lit(0).alias("chunk_index"),
        F.concat(
            F.lit('{"summary":"s","terms":["a"],"evidence":["a"],'
                  '"answer":"x","relevance_score":'),
            (F.col("id") % 11).cast("string"),
            F.lit("}"),
        ).alias("content"),
    )
    out = filter_stage(fake, cfg)
    plan = plan_of(out)
    assert "EvalPython" not in plan and "FlatMapsInPandas" not in plan
    assert "from_json" in plan
    got = sorted(r["qa_id"] for r in out.collect())
    assert got == [6, 7, 8, 9]  # strict > 5 on the struct field


def test_json_reduce_xml_render_is_jvm_side(spark, sf_dir):
    """The chunk-XML render (escape chain + repr lists + windowed
    index) must be JVM expressions — adding a Python UDF here would
    put a second Python hop between the two LLM stages."""
    from finmapreduce_spark.plans.mapreduce import _chunk_xml
    from finmapreduce_spark.schemas import MAP_RESULT_SCHEMA
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [('{"summary":"a&b<c>","terms":["x\'y"],"evidence":["e"],'
          '"answer":"a\\"q","relevance_score":7}',)],
        "content string",
    ).select(
        _chunk_xml(
            F.from_json("content", MAP_RESULT_SCHEMA), F.lit(2)
        ).alias("xml")
    )
    plan = plan_of(df)
    assert "EvalPython" not in plan
    xml = df.collect()[0]["xml"]
    # reference escape chain + 1-based index + repr list, verbatim
    assert "<chunk_2>" in xml and "</chunk_2>" in xml
    assert "<summary>a&amp;b&lt;c&gt;</summary>" in xml
    assert "<terms>[&apos;x&apos;y&apos;]</terms>" in xml
    assert "<answer>a&quot;q</answer>" in xml
    assert "<relevance_score>7</relevance_score>" in xml


def test_truncation_per_row_budget_varies(spark, sf_dir):
    """context_window mode gives each question its OWN document budget
    (F6): a longer question → smaller budget → fewer kept tokens, on
    the same document."""
    from pyspark.sql import functions as F

    from finmapreduce_spark.plans.truncation import (
        TruncationConfig,
        run_truncation,
    )

    text = "word " * 400  # 400 words
    docs = spark.createDataFrame([(0, text), (1, text)], "doc_id long, text string")
    qa = spark.createDataFrame(
        [
            (0, 0, "short question?", "g"),
            (1, 1, "a much longer question " + "pad " * 200 + "?", "g"),
        ],
        "qa_id long, doc_id long, question string, answer string",
    )
    # cw 1350, buffer 50: q0 (2 words) → budget 1298 ≥ 400 (no trunc);
    # q1 (~205 words) → budget max(1000, 1350-205-50)=1095 ≥ 400 too —
    # so drop the floor's shadow: use small cw where only the LONG
    # question pushes under the doc length... floor is 1000, and doc
    # is 400 words, so budgets never bite the slice; assert the
    # REPORTED budget effect via trunc_applied=False and the budget
    # arithmetic itself through the catalog oracle. Here pin the
    # per-row plumbing: budgets differ → kept tokens equal doc length
    # for both, trunc_applied False for both, and the plan carries a
    # per-row (non-literal) budget expression.
    cfg = TruncationConfig(context_window=1350, buffer=50)
    out = run_truncation(qa, docs, cfg)["truncated"]
    rows = {r["qa_id"]: r.asDict() for r in out.collect()}
    assert rows[0]["trunc_tokens"] == 400 and rows[1]["trunc_tokens"] == 400
    assert rows[0]["trunc_applied"] is False

    # and with a giant question that eats the whole window, the floor
    # (1000) still never lets the budget hit zero
    qa2 = spark.createDataFrame(
        [(0, 0, "q " * 2000, "g")],
        "qa_id long, doc_id long, question string, answer string",
    )
    docs2 = spark.createDataFrame(
        [(0, "w " * 1500)], "doc_id long, text string"
    )
    out2 = run_truncation(qa2, docs2, TruncationConfig(context_window=1350, buffer=50))[
        "truncated"
    ]
    r = out2.collect()[0]
    assert r["trunc_tokens"] == 1000  # floor budget sliced 1500 → 1000
    assert r["trunc_applied"] is True


def test_temperature_mix_corpus_never_shuffles(spark, sf_dir):
    """sample_temperature_mix: the corpus side must filter through ONE
    BroadcastHashJoin against the tiny threshold table — no Exchange,
    window, or sort touches the big side, and the scan reads only
    (doc_id, lang). The threshold computation may shuffle (L-row
    aggs); the corpus may not."""
    plan = plan_of(QS["sample_temperature_mix"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    # corpus scan is pruned to the two columns used
    assert "struct<doc_id:bigint,lang:string>" in plan


def test_ivf_incremental_serve_broadcasts_queries(spark, sf_dir):
    """ann_ivf_incremental_topk: the serve join must broadcast the
    tiny query-routing side against the indexed corpus (never
    sort-merge or cartesian against it), and the whole train+route+
    serve chain stays JVM-side. The only nested-loop joins allowed
    are the K-row centroid crossJoins of training/routing."""
    plan = plan_of(QS["ann_ivf_incremental_topk"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_orc_scan_prunes_lang_partitions(spark, sf_dir):
    """documents_orc_scan: the lang predicate must reach the ORC scan
    as a PartitionFilter (whole directories skipped), and the chain
    stays JVM-side."""
    plan = plan_of(QS["documents_orc_scan"].spark(spark, sf_dir))
    assert "PartitionFilters" in plan and "lang" in plan
    assert "EvalPython" not in plan


def test_bpe_vocab_chunk_is_single_scan_zero_shuffle(spark, sf_dir):
    """Round-10 vocab lane: the Arrow MergesBPE chunk path must be ONE
    parquet scan feeding one Arrow hop + posexplode — the merge table
    ships in the UDF closure, so ANY Exchange or Join here is a bug
    (the lane's whole 100 TB story is embarrassing parallelism)."""
    import re

    plan = plan_of(QS["bpe_vocab_chunk_documents"].spark(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan
    # formatted explain lists each node once in the tree and once in
    # the details section — count detail headers, not substrings
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_substring_dedup_winnow_side_shuffles_are_bounded(spark, sf_dir):
    """The winnow front-end: the candidate-slice joins broadcast (the
    candidate set is duplicate-structure-sized) and nothing goes
    nested-loop/cartesian. The GRAM GRID cell join is the one
    permitted SortMergeJoin — round 15 pins it to merge on the
    (bucket, cell) key (never broadcast: explode-underestimated,
    corpus-sized build; never shuffled-hash: unspillable build OOM at
    50× — see operators/pairgrid.py). Any OTHER SortMergeJoin means
    the linear/quadratic split regressed."""
    import re

    plan = plan_of(QS["dedup_exact_substring"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # every SMJ node's key detail must be the grid cell key
    for m in re.finditer(r"^\(\d+\) SortMergeJoin.*\n((?:.+\n)*?)\n", plan, re.M):
        assert "__blk_i" in m.group(0), m.group(0)


# ---------------------------------------------------------------------------
# Round-11 plan shapes
# ---------------------------------------------------------------------------


def test_url_canonical_is_projection_plus_one_agg(spark, sf_dir):
    """URL canonicalization must stay a zero-shuffle string projection:
    the whole plan is scan → project → ONE hash-aggregate exchange on
    the canonical key (partial agg before it), no joins."""
    plan = plan_of(QS["dedup_url_canonical"].spark(spark, sf_dir))
    tree = plan[: plan.index("(1) Scan")]
    assert tree.count("Exchange") == 1
    assert "Join" not in tree
    assert "partial_min" in plan and "partial_count" in plan


def test_substring_diversity_single_scan_single_arrow_hop(spark, sf_dir):
    """The suffix-automaton stage is one Arrow hop over one scan —
    per-doc CPU work only; the final projection (ratio rounding) adds
    nothing physical. The ONLY exchange allowed is the guarded
    scan-parallelism floor (operators/parallelism.py): a deterministic
    hashpartitioning(doc_id) repartition that exists exactly when the
    corpus scans narrower than the session — a no-op at scale."""
    plan = plan_of(QS["text_substring_diversity"].spark(spark, sf_dir))
    tree = plan[: plan.index("(1) Scan")]
    assert tree.count("MapInPandas") == 1
    assert tree.count("Exchange") <= 1, tree
    if "Exchange" in tree:
        assert "hashpartitioning(doc_id" in plan, plan
    assert "Join" not in tree
    # column pruning: the scan reads only doc_id + text
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "lang" not in read_schema and "source" not in read_schema


def _rank_windows_are_banded(plan: str) -> None:
    """Round-12 pin for the ordering ops: every row_number window must
    be partitioned by the hex band (``_band``) — i.e. a DISTRIBUTED
    rank whose per-task sort is N/n_bands rows — never an unbanded
    window that funnels a whole epoch/corpus through one task. The
    only non-banded window allowed is the K-row prefix-sum over the
    band COUNTS (a sum window, not row_number). The band offsets must
    come back via a broadcast join, never a sort-merge join."""
    rn_specs = [
        l for l in plan.splitlines()
        if "row_number() windowspecdefinition(" in l
    ]
    assert rn_specs, "expected a row_number window in the plan"
    for spec in rn_specs:
        assert "_band#" in spec, spec
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_epoch_shuffle_rank_is_distributed(spark, sf_dir):
    """The seeded epoch shuffle must be a banded distributed rank over
    (id, key) pairs: row_number partitioned by (epoch, _band),
    broadcast offset join, and a scan that reads ONLY doc_id."""
    plan = plan_of(QS["train_epoch_shuffle"].spark(spark, sf_dir))
    _rank_windows_are_banded(plan)
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in read_schema and "lang" not in read_schema


def test_curriculum_rank_is_distributed(spark, sf_dir):
    """train_curriculum_order's global (stage, hash) rank must be
    banded — no unpartitioned row_number over the corpus."""
    _rank_windows_are_banded(
        plan_of(QS["train_curriculum_order"].spark(spark, sf_dir))
    )


def test_curriculum_packing_rank_is_distributed(spark, sf_dir):
    """pack_curriculum_layout inherits the curriculum rank; its only
    windows are the banded rank, the K-row offset prefix, and the
    per-bucket packing cumsum — all partitioned or K-row."""
    _rank_windows_are_banded(
        plan_of(QS["pack_curriculum_layout"].spark(spark, sf_dir))
    )


def test_s2s_scorer_single_arrow_stage(spark, sf_dir):
    """The pair-scorer UDF must run as an Arrow-vectorized stage
    (ArrowEvalPython), never row-at-a-time BatchEvalPython, fed by the
    pair equi-join — the identical harness the gated s2s:<model>
    conditional-generation arm rides."""
    df = QS["u6_s2s_unigram_nll"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_curriculum_vocab_packing_banded_and_arrow(spark, sf_dir):
    """pack_curriculum_vocab_layout composes the banded curriculum
    rank with the Arrow token counter: rank windows banded, token UDF
    vectorized, offsets broadcast."""
    plan = plan_of(QS["pack_curriculum_vocab_layout"].spark(spark, sf_dir))
    _rank_windows_are_banded(plan)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_dsir_select_plan_shape(spark, sf_dir):
    """DSIR's selection pass must stay one aggregation deep at scale:
    both bucket dictionaries (≤K rows by construction) BROADCAST into
    the pool scoring, the top-N compiles to TakeOrderedAndProject
    (per-partition heap, never a global sort), and the whole weight
    computation is JVM column algebra — no Python evaluation node."""
    df = QS["dsir_importance_select"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_sketch_plans_stay_bounded_and_jvm(spark, sf_dir):
    """Sketch state must be CONSTANT-sized groupBy output (the merge
    is map-side partial aggregation): no Python nodes, no sort-merge
    join anywhere, and the CMS top-K compiles to
    TakeOrderedAndProject."""
    cms = plan_of(QS["sketch_countmin_grams"].spark(spark, sf_dir))
    hll = plan_of(QS["sketch_hll_distinct"].spark(spark, sf_dir))
    qsk = plan_of(QS["sketch_quantile_doclen"].spark(spark, sf_dir))
    for plan in (cms, hll, qsk):
        assert "EvalPython" not in plan
        assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in cms
    assert "HashAggregate" in hll
    # quantile sampler: every join is broadcast (threshold scalar,
    # percentile literals, truth table) and the corpus-sized aggs are
    # hash aggregations with map-side partials
    assert "BroadcastHashJoin" in qsk or "BroadcastNestedLoopJoin" in qsk
    assert "HashAggregate" in qsk


def test_host_frontier_rank_is_distributed(spark, sf_dir):
    """r13: the crawl-frontier priority rank runs over the HOST set —
    10⁷–10⁸ rows on a web corpus — so its row_number must be banded
    like every other data-shaped rank: partitioned by the log-scale
    value band (desc_long_band on total_rank), offsets broadcast.
    (Not the shared helper: upstream the doc-level keepers⨝pagerank
    join may legitimately sort-merge, so only the rank's own windows
    and offset join are pinned here.)"""
    plan = plan_of(QS["host_frontier_rank"].spark(spark, sf_dir))
    rn_specs = [
        l for l in plan.splitlines()
        if "row_number() windowspecdefinition(" in l
    ]
    assert rn_specs, "expected a row_number window in the plan"
    for spec in rn_specs:
        assert "_band#" in spec, spec
    assert "BroadcastHashJoin" in plan


def test_shard_assignment_rank_is_distributed(spark, sf_dir):
    """The LPT shard rank must be the two-level banded rank: every
    row_number window partitioned by (token-count band, hash
    sub-band) so a modal document length cannot funnel one task;
    offsets come back via broadcast join."""
    plan = plan_of(QS["train_shard_assignment"].spark(spark, sf_dir))
    rn_specs = [
        l for l in plan.splitlines()
        if "row_number() windowspecdefinition(" in l
    ]
    assert rn_specs, "expected a row_number window in the plan"
    for spec in rn_specs:
        assert "_nb#" in spec and "_hband#" in spec, spec
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_weighted_minhash_plan_shape(spark, sf_dir):
    """r13: the weighted-MinHash lane must stay JVM-side (no Python
    nodes — signatures, replication, and verify are all column
    algebra) and its shingle explode must read from the persisted
    projection (an InMemoryTableScan feeding the Generate), never
    re-derive the shingle expression per emitted row — the 22 s → 4 s
    rematerialization fix (SCALE.md round-13)."""
    plan = plan_of(QS["dedup_weighted_minhash_pairs"].spark(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_multimodal_dedup_plans_are_arrow_and_tiled(spark, sf_dir):
    """r13: the image/audio perceptual-hash lanes decode through ONE
    Arrow stage (MapInPandas — never row-at-a-time BatchEvalPython)
    and pair through the grid tiler's window/join machinery, with the
    Hamming verify as JVM xor+popcount (no second Python node)."""
    for name in ("dedup_image_phash_pairs", "dedup_audio_fingerprint_pairs"):
        plan = plan_of(QS[name].spark(spark, sf_dir))
        assert "MapInPandas" in plan, name
        assert "BatchEvalPython" not in plan, name
        spark.catalog.clearCache()


def _jchildren(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.length())]


def _jsubtree_has(node, cls_fragment: str) -> bool:
    if cls_fragment in node.getClass().getSimpleName():
        return True
    return any(_jsubtree_has(c, cls_fragment) for c in _jchildren(node))


def _broadcast_exchanges(df):
    """(output-attribute-name set, has_generate_below) for every
    BroadcastExchange in the STATIC physical plan (sparkPlan — where
    the broadcast decision is made), walked via the JVM tree so the
    checks anchor on the exchange's actual output attributes instead
    of a fixed window of explain-string lines (round-14 advice: the
    substring scan false-positives on any identifier containing
    'text' and false-negatives past 4 lines)."""
    out = []

    def walk(node):
        if node.getClass().getSimpleName().startswith("BroadcastExchange"):
            attrs = node.output()
            names = {attrs.apply(i).name() for i in range(attrs.length())}
            gen = any(_jsubtree_has(c, "Generate") for c in _jchildren(node))
            out.append((names, gen))
        for c in _jchildren(node):
            walk(c)

    walk(df._jdf.queryExecution().sparkPlan())
    return out


def test_substring_candidate_slice_joins_semi(spark, sf_dir):
    """r14 100× study: the winnow candidate slice must be a LEFT SEMI
    join so the planner can only ever build/broadcast the id-only
    candidate table. With a plain inner join the 100-copy corpus made
    the planner pick the TEXT side as the broadcast build (templated
    text compresses ~10× in parquet, so the size estimate looked
    tiny) and the driver-side collect blew maxResultSize at ~1 GB,
    killing dedup_exact_substring and the whole master keep-list."""
    from finmapreduce_spark.queries import all_queries

    df = all_queries()["dedup_exact_substring"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "LeftSemi" in plan, "candidate slice must join left_semi"
    # and the text side must never be a broadcast build: every
    # broadcast exchange in this plan carries only ids/fingerprints
    for names, _gen in _broadcast_exchanges(df):
        assert not names & {"t", "text"}, (
            f"broadcast exchange carries a text column: {sorted(names)}"
        )
    spark.catalog.clearCache()


def test_dedup_lanes_never_broadcast_explode_output(spark, sf_dir):
    """r14 carried scale-killer, fixed r15: Catalyst's sizeInBytes for
    Generate output equals its INPUT size, so anything downstream of
    an explode is underestimated by the replication factor — at 50×
    the composed keep-list planned one grid join as a ~13 GiB
    broadcast ("Cannot broadcast the table that is larger than
    8.0 GiB"). Explode output in the dedup lanes is corpus-derived
    (shingles, grams, band replications), so it is NEVER a legitimate
    broadcast build at scale: pin "no BroadcastExchange above a
    Generate" across every dedup lane's static plan."""
    from finmapreduce_spark.queries import all_queries

    qs = all_queries()
    lanes = [
        "dedup_lsh_pairs_grid",
        "dedup_simhash_pairs_grid",
        "dedup_semantic_verify",
        "dedup_exact_substring",
        "dedup_weighted_minhash_pairs",
        "dedup_image_phash_pairs",
        "dedup_duplicate_passages",
    ]
    for name in lanes:
        df = qs[name].spark(spark, sf_dir)
        offenders = [
            sorted(names)
            for names, gen in _broadcast_exchanges(df)
            if gen
        ]
        assert not offenders, f"{name}: broadcast over Generate {offenders}"
        spark.catalog.clearCache()


def test_grid_cell_join_is_sort_merge(spark, sf_dir):
    """The pairgrid cell join must be a SortMergeJoin: the exchange on
    (bucket, cell) is the tiler's per-task bound (broadcast keeps the
    pair volume in the stream side's partitions), and the build side
    is corpus-sized so a shuffled-hash build is an unspillable
    per-partition OOM (the 50× run died in HashedRelation.apply —
    SCALE.md round-15). The merge hint gives the same cell-key
    exchange with spill-safe sorted runs."""
    from finmapreduce_spark.queries import all_queries

    qs = all_queries()
    for name in ("dedup_lsh_pairs_grid", "dedup_simhash_pairs_grid"):
        plan = plan_of(qs[name].spark(spark, sf_dir))
        assert "SortMergeJoin" in plan, name
        assert "ShuffledHashJoin" not in plan, name
        # cell ids are join keys (reach the partitioner)
        assert "__blk_i" in plan and "__blk_j" in plan, name
        spark.catalog.clearCache()


def test_weighted_minhash_has_no_broadcast(spark, sf_dir):
    """Round-15 pin: the df-weight computation must be a window count
    over the exploded shingle table, NOT a broadcast join of the
    distinct-shingle weight table (that table grows with corpus
    vocabulary — a driver-killing broadcast at 100 TB, the 50×-study
    failure class). Window form: one deterministic exchange, no
    BroadcastExchange anywhere in the lane."""
    plan = plan_of(QS["dedup_weighted_minhash_pairs"].spark(spark, sf_dir))
    assert "BroadcastExchange" not in plan
    assert "Window" in plan
    spark.catalog.clearCache()


def test_passage_df_filter_shares_window_exchange(spark, sf_dir):
    """Round-15 pin: passage_spans_of computes the gram df with a
    window on h whose partitioning the following groupBy(h) REUSES —
    the old groupBy+join-back form ran the whole gram pipeline twice.
    The pin counts Exchange nodes: the window rewrite dropped the
    plan from 14 to 8; allow slack but fail if the join-back shape
    (>= 12 exchanges) returns."""
    plan = plan_of(QS["dedup_duplicate_passages"].spark(spark, sf_dir))
    assert "Window" in plan
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 10, f"{n_exchanges} Exchange nodes"
    spark.catalog.clearCache()


def _local_rows(spark, n):
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({"k": pa.array(range(n), pa.int64())})
    )


def test_scan_floor_one_row_local_relation_adds_no_exchange(spark):
    """A one-row LocalRelation (the serving upload's shape) has
    rowCount = 1: the floor returns it untouched — one partition, no
    Exchange, so no Python task downstream runs on an empty slice."""
    from finmapreduce_spark.operators.parallelism import scan_floor

    df = scan_floor(_local_rows(spark, 1), "k")
    assert "Exchange" not in plan_of(df)
    assert df.rdd.getNumPartitions() == 1


def test_scan_floor_caps_at_known_row_count(spark):
    """Two known rows fill at most two partitions, whatever the
    session's defaultParallelism — also when the floor has to widen a
    coalesced relation (the row count survives the coalesce)."""
    from finmapreduce_spark.operators.parallelism import scan_floor

    assert spark.sparkContext.defaultParallelism > 2
    for src in (_local_rows(spark, 2), _local_rows(spark, 2).coalesce(1)):
        df = scan_floor(src, "k")
        assert df.rdd.getNumPartitions() == 2
        assert sorted(r.k for r in df.collect()) == [0, 1]


def test_scan_floor_still_widens_file_scans(spark, sf_dir):
    """A parquet scan carries no row count, so the floor spreads it to
    defaultParallelism exactly as before (the batch and curation
    lanes' decision is unchanged)."""
    from finmapreduce_spark.operators.parallelism import scan_floor

    scan = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    target = spark.sparkContext.defaultParallelism
    assert scan.rdd.getNumPartitions() < target
    df = scan_floor(scan, "doc_id")
    assert "hashpartitioning(doc_id" in plan_of(df)
    assert df.rdd.getNumPartitions() == target
