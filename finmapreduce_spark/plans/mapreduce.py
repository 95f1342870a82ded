"""The MapReduce QA DAG — the reference's primary pipeline re-expressed
as one declarative DataFrame plan (SURVEY §3.1 step 4).

Reference lifecycle (/root/reference/src/core/mapreduce_pipeline.py):
load → dedup docs → parse+chunk → per-QA: map each chunk (U1) →
score-filter (P2/P3) → ordered reduce (A1+U2) → judge batches (W2+U4+J3)
→ stats (A2–A12) → sink.

Spark plan:
  qa ⟕ broadcast(docs)            -- J1; missing doc → error row
  → explode chunks (F2)            -- narrow
  → mapInPandas LLM map (U1)       -- async loop per partition
  → filter score > θ (P3, strict)  -- prunes before the only wide op
  → groupBy(qa_id) ordered concat (A1/W1)
  → mapInPandas LLM reduce (U2)
  → batch join judge (W2+U4+J3)
  → stats aggregations

Every stage returns a DataFrame so callers can stop anywhere; nothing
collects to the driver. With the MockLLM every stage is reproducible
in ANSI SQL — queries/pipeline.py carries the DuckDB oracles.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from finmapreduce_spark.functions.chunking import chunk_plan
from finmapreduce_spark.functions.render import xml_escape
from finmapreduce_spark.functions.text import extract_score
from finmapreduce_spark.llm import runner
from finmapreduce_spark.llm.runner import (
    JUDGE_OUT_SCHEMA,
    MAP_OUT_SCHEMA,
    REDUCE_OUT_SCHEMA,
    map_row_builder,
    mock_client_factory,
    reduce_row_builder,
    run_llm_stage,
)


@dataclass
class MapReduceConfig:
    chunk_size: int = 512
    chunk_overlap: int = 64
    # Token model for the chunk budgets (round 15 — VERDICT r14
    # missing #2): None resolves FMR_TOKEN_MODEL → "bpe" (DEFAULT:
    # chunk_size/chunk_overlap count vendored-BPE tokens via the
    # Arrow MergesBPE UDF, matching the reference's
    # use_tiktoken=True call sites where 32768/4096 are TOKEN
    # budgets); "tiktoken" = reference-identical cl100k boundaries
    # when installed; "chars"/"words" = the closed-form
    # character-window splitter (the reference's non-tiktoken
    # CharacterTextSplitter mode — zero Python, pure codegen). The
    # char-model parity oracles pin it explicitly.
    token_model: str | None = None
    score_threshold: int = 5  # strict `>`; P3 hybrid=5, P4 plain_text=50
    # (reference json_formatter.py:32, plain_text_formatter.py:30-56)
    # P2 format switch (reference factory.py FORMATS): "hybrid" /
    # "plain_text" score-filter via the regex 'Score: N' path;
    # "json" parses the map reply into MAP_RESULT_SCHEMA and filters
    # the struct field (json_formatter.py:17-34 — missing/unparseable
    # JSON scores 0 and drops).
    format_type: str = "hybrid"
    judge_batch_size: int = 5  # reference async_evaluation.py:261
    # "bucketed" (DEFAULT — the cluster-scale path): hash-bucket
    # qa_ids, batch within bucket — no global sort, batch size still
    # ≤ k. "global" reproduces the reference's consecutive batches
    # exactly (one unpartitioned window over ~|questions| rows); only
    # the reference-parity oracle query opts into it. Batch
    # COMPOSITION differs between the two, but items are judged
    # independently, so verdicts are batching-invariant (twin-tested
    # + plan-pinned: no unpartitioned window under the default).
    judge_batching: str = "bucketed"
    judge_buckets: int = 32
    client_factory: object = mock_client_factory
    # Per-partition async request concurrency inside each LLM stage
    # (reference DEFAULT_MAX_CONCURRENT_CHUNKS / the webapp's
    # max_concurrent_chunks knob). Global in-flight ≈ partitions ×
    # concurrency — size llm_partitions together with this.
    concurrency: int = 50
    llm_partitions: int | None = None  # repartition before LLM stages
    # S12/F15: prompt templates (format_string %s slots). Defaults
    # reproduce the historical inline prompts exactly, so the pipeline
    # oracles are template-independent; the CLI swaps in a prompt set
    # by format name (llm/prompts.py).
    map_template: str = "%s\n\n%s"  # (question, chunk)
    reduce_template: str = "Question: %s\n\n%s"  # (question, gathered)
    # Judge wrapper around the rendered <evaluation_items> XML. The
    # "%s" default keeps the prompt byte-identical to the historical
    # inline form (oracle-independent); the CLI/API swap in the
    # prompt set's judge template, whose JSON wording is what opts a
    # live call into provider JSON mode (llm/prompts.py _JUDGE).
    judge_template: str = "%s"
    # Structural parse expectations (llm/prompts.py prompt_set_flags,
    # set by the CLI/API alongside the templates): should the reduce /
    # judge stage strictly parse (and retry) a JSON reply? None =
    # infer from the template wording — a fallback for callers that
    # set templates directly without the registry.
    reduce_expect_json: bool | None = None
    judge_expect_json: bool | None = None
    # Per-group size guard for the reduce gather (SURVEY §7 risk 4):
    # keep at most N chunks per QA (top score, then chunk order).
    # None = reference semantics (no bound).
    max_reduce_chunks: int | None = None
    # Cross-run response-cache table (llm/response_cache.py): when set,
    # every LLM stage (map/reduce/judge) anti-joins its prompts against
    # the parquet cache at this path and only misses hit the API; fresh
    # responses append back. Re-running the same corpus re-pays nothing
    # (SURVEY §4 custom work #2). None = off.
    response_cache_dir: str | None = None
    # Cache identity: responses are only interchangeable across runs
    # that ask the SAME model — set this to provider:model:temperature
    # for live clients (the CLI does). "" = the deterministic mock.
    response_cache_namespace: str = ""
    # Persist each LLM stage's output before anything consumes it.
    # Protects paid API calls from double execution when (a) multiple
    # downstream consumers act on the same stage (answers feed both
    # the sink and the judge) or (b) lineage recompute after executor
    # loss would otherwise re-fire requests (SURVEY §4/§7 M5). Off by
    # default for fixture-scale tests; ANY real-client run should set
    # it.
    persist_llm_outputs: bool = False


def _llm_stage(df: DataFrame, cfg: MapReduceConfig, **kw) -> DataFrame:
    """Run one paid stage: repartition to ``llm_partitions`` so the
    global in-flight cap (partitions × concurrency) bounds EVERY paid
    stage, and route through the cross-run response cache when
    configured."""
    kw.setdefault("concurrency", cfg.concurrency)
    if cfg.llm_partitions:
        df = df.repartition(cfg.llm_partitions)
    if cfg.response_cache_dir:
        from finmapreduce_spark.llm.response_cache import run_llm_stage_cached

        return run_llm_stage_cached(
            df,
            cache_dir=cfg.response_cache_dir,
            namespace=cfg.response_cache_namespace,
            **kw,
        )
    return run_llm_stage(df, **kw)


def join_documents(qa: DataFrame, docs: DataFrame) -> DataFrame:
    """J1: broadcast left join; null/empty content becomes a typed
    error row (P5), preserved through the DAG as 'No answer'.

    The qa side gets the guarded scan-parallelism floor (guide §6;
    operators/parallelism.py): the whole QA DAG — chunk explode,
    Arrow LLM map/filter/reduce — inherits the probe side's
    partitioning from this broadcast join, and a small qa scan is ONE
    split, serializing every per-row stage onto one core until the
    reduce shuffle.  Flooring qa (narrow rows, BEFORE doc text is
    attached) is a no-op at scale and spreads the whole pre-reduce
    pipeline locally; qa_ids are already assigned below the exchange,
    so results are unchanged."""
    from finmapreduce_spark.operators.parallelism import scan_floor

    qa = scan_floor(qa, "qa_id")
    joined = qa.join(F.broadcast(docs), "doc_id", "left")
    return joined.withColumn(
        "doc_error",
        F.when(F.col("text").isNull(), F.lit("document not found"))
        .when(F.length(F.trim("text")) == 0, F.lit("empty document"))
        .otherwise(F.lit(None)),
    )


def chunk_stage(qa_docs: DataFrame, cfg: MapReduceConfig) -> DataFrame:
    """F2 over the joined rows; error rows carry no chunks. The
    chunk budget follows cfg.token_model (tokenizer-exact by
    default; "chars"/"words" keeps the closed-form char window)."""
    from finmapreduce_spark.functions.token_model import token_model

    ok = qa_docs.filter(F.col("doc_error").isNull())
    model = (
        cfg.token_model
        if cfg.token_model in ("chars", "words")
        else token_model(cfg.token_model)
    )
    if model in ("chars", "words"):
        chunks_col = chunk_plan(
            F.col("text"), cfg.chunk_size, cfg.chunk_overlap
        )
    else:
        from finmapreduce_spark.functions.exact_tokens import exact_chunk_udf
        from finmapreduce_spark.functions.token_model import (
            default_encoder_factory,
        )

        chunks_col = exact_chunk_udf(
            cfg.chunk_size,
            cfg.chunk_overlap,
            default_encoder_factory(model),
        )(F.col("text"))
    chunks = ok.select(
        "qa_id",
        "doc_id",
        "question",
        F.posexplode(chunks_col).alias("chunk_index", "chunk_text"),
    )
    return chunks


def map_stage(chunks: DataFrame, cfg: MapReduceConfig) -> DataFrame:
    """U1: one LLM call per chunk. The prompt is question + chunk; the
    stage is repartitioned to shape global request concurrency."""
    with_prompt = chunks.withColumn(
        "prompt",
        F.format_string(cfg.map_template, F.col("question"), F.col("chunk_text")),
    )
    return _llm_stage(
        with_prompt,
        cfg,
        prompt_col="prompt",
        # The format picks the map-reply contract (reference: each
        # format's map prompt): json → a JSON object (real client
        # flips response_format; mock emits the struct), plain_text →
        # 0-100 'Score:' line, hybrid → 0-10 'Score:' line.
        # expect_json stays False even for json: an unparseable map
        # reply must flow through as score-0 content and be FILTERED
        # (reference json_formatter.py:31 `.get("relevance_score",
        # 0)`), not retried to death and turned into an error row.
        kind={"json": "map_json", "plain_text": "map_plain"}.get(
            cfg.format_type, "map"
        ),
        out_schema=MAP_OUT_SCHEMA,
        row_builder=map_row_builder,
        client_factory=cfg.client_factory,
    )


def filter_stage(map_out: DataFrame, cfg: MapReduceConfig) -> DataFrame:
    """P2/P3 score filter, strict `>`.

    json format (P2, reference json_formatter.py:17-34): ``from_json``
    the map reply into MAP_RESULT_SCHEMA and filter the struct field —
    unparseable content yields a NULL struct, which scores 0 and drops,
    exactly ``result.get("json", {}).get("relevance_score", 0)``. The
    parsed ``map_result`` struct stays on the row for downstream XML
    rendering (format_map_results_for_reduce).

    hybrid/plain_text (P3/P4, hybrid_formatter.py:33-60): regex-extract
    the trailing 'Score: N' line; malformed content (no 'Score:') drops.
    """
    if cfg.format_type == "json":
        from finmapreduce_spark.schemas import MAP_RESULT_SCHEMA

        parsed = map_out.withColumn(
            "map_result", F.from_json(F.col("content"), MAP_RESULT_SCHEMA)
        )
        scored = parsed.withColumn(
            "score", F.coalesce(F.col("map_result.relevance_score"), F.lit(0))
        )
        return scored.filter(F.col("score") > cfg.score_threshold)
    scored = map_out.withColumn("score", extract_score(F.col("content")))
    return scored.filter(F.col("score") > cfg.score_threshold)


def _pyrepr_list(arr):
    """str(list_of_str) as the reference renders terms/evidence
    (json_formatter.py:69-71): "['a', 'b']", "[]" for empty. Elements
    are single-quote wrapped; CPython's quote-switching repr for
    quote-bearing strings is not reproduced (the subsequent XML escape
    entity-encodes all quotes anyway, so only the wrapper choice could
    differ)."""
    return F.concat(
        F.lit("["),
        F.concat_ws(
            ", ", F.transform(arr, lambda t: F.concat(F.lit("'"), t, F.lit("'")))
        ),
        F.lit("]"),
    )


def _chunk_xml(mr, idx):
    """One kept map-result struct → the reference's reduce-input chunk
    XML (json_formatter.py:54-78; 1-based index over KEPT chunks). The
    raw_response fallback branch (:80-87) is unreachable post-filter:
    the P2 filter only passes rows whose struct parsed with score > θ.
    """
    i = idx.cast("string")
    return F.concat(
        F.lit("      <chunk_"), i, F.lit(">\n"),
        F.lit("        <summary>"),
        xml_escape(F.coalesce(mr.summary, F.lit(""))),
        F.lit("</summary>\n"),
        F.lit("        <terms>"),
        xml_escape(_pyrepr_list(F.coalesce(mr.terms, F.array().cast("array<string>")))),
        F.lit("</terms>\n"),
        F.lit("        <evidence>"),
        xml_escape(_pyrepr_list(F.coalesce(mr.evidence, F.array().cast("array<string>")))),
        F.lit("</evidence>\n"),
        F.lit("        <answer>"),
        xml_escape(F.coalesce(mr.answer, F.lit(""))),
        F.lit("</answer>\n"),
        F.lit("        <relevance_score>"),
        F.coalesce(mr.relevance_score, F.lit(0)).cast("string"),
        F.lit("</relevance_score>\n"),
        F.lit("      </chunk_"), i, F.lit(">"),
    )


def reduce_stage(kept: DataFrame, qa: DataFrame, cfg: MapReduceConfig) -> DataFrame:
    """A1+W1 gather (sorted collect_list) → U2 one LLM call per QA.

    json format: each kept chunk renders to the reference's XML block
    (1-based index over kept chunks in chunk order) and blocks join
    with single newlines (json_formatter.py:35-52); hybrid/plain
    gather raw content, ALSO newline-joined (plain_text_formatter.py:69,
    hybrid_formatter.py:73 — both are "\\n".join).

    ``max_reduce_chunks`` is the per-group size guard (SURVEY §7 risk
    4): a pathological million-chunk document would otherwise blow up
    both the collect_list buffer and the reduce prompt. When set, only
    the top-N kept chunks per QA (score desc, then chunk order) reach
    the gather — the same keep-the-best posture as the score filter,
    applied with a hard cardinality bound.
    """
    if cfg.max_reduce_chunks is not None:
        w = W.partitionBy("qa_id").orderBy(
            F.desc("score"), F.asc("chunk_index")
        )
        kept = (
            kept.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= cfg.max_reduce_chunks)
            .drop("__rk")
        )
    if cfg.format_type == "json":
        # per-QA kept-chunk index (1-based, chunk order) is embedded in
        # the XML, so it must exist before the gather; the window and
        # the groupBy share the qa_id partitioning (one exchange).
        wi = W.partitionBy("qa_id").orderBy("chunk_index")
        kept = kept.withColumn(
            "__xml", _chunk_xml(F.col("map_result"), F.row_number().over(wi))
        )
        gather_col, sep = "__xml", "\n"
    else:
        # reference parity: plain_text_formatter.py:69 and
        # hybrid_formatter.py:73 both join kept map contents with a
        # SINGLE newline ("\n".join(results))
        gather_col, sep = "content", "\n"
    gathered = kept.groupBy("qa_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_index", gather_col))),
                lambda s: s[gather_col],
            ),
        ).alias("serialized"),
    )
    with_q = gathered.join(qa.select("qa_id", "question"), "qa_id").withColumn(
        "prompt",
        F.format_string(cfg.reduce_template, F.col("question"), F.col("serialized")),
    )
    reduced = _llm_stage(
        with_q,
        cfg,
        prompt_col="prompt",
        kind="reduce",
        out_schema=REDUCE_OUT_SCHEMA,
        row_builder=reduce_row_builder,
        client_factory=cfg.client_factory,
        # Demand JSON at the retry layer only when the reduce reply
        # is JSON BY CONTRACT. The registry's structural flag wins
        # (prompt_set_flags — a wording edit can't flip semantics);
        # callers that set templates directly fall back to the
        # wording sniff. Gating on format_type alone was wrong:
        # prompt_set is selectable independently (round-9 review —
        # --prompt_set baseline under the default hybrid format has a
        # prose reduce; expect_json=True there would burn the full
        # retry budget per QA on live prose replies).
        expect_json=(
            cfg.reduce_expect_json
            if cfg.reduce_expect_json is not None
            else "json" in cfg.reduce_template.lower()
        )
        and cfg.format_type != "plain_text",
    )
    return reduced


def answers_with_errors(
    qa: DataFrame, qa_docs: DataFrame, reduced: DataFrame,
    mapped: DataFrame | None = None,
) -> DataFrame:
    """Reattach error rows (missing doc / all chunks filtered) as
    null-answer rows so downstream judging sees every QA (P5 union).

    ``mapped`` (optional) joins in a per-QA map-call error digest so
    an all-calls-failed QA reports the ACTUAL failure (e.g. the 401)
    rather than the misleading relevance-filter label (round-9 review
    pass 2). Pass it ONLY when the mapped stage is persisted — the
    digest re-reads mapped, and an unpersisted re-read would re-fire
    every paid map call (run_mapreduce wires this automatically under
    persist_llm_outputs)."""
    base = qa.select("qa_id", "doc_id", "question", "answer").join(
        qa_docs.select("qa_id", "doc_error"), "qa_id", "left"
    )
    joined = base.join(reduced, "qa_id", "left")
    if mapped is not None:
        digest = (
            mapped.filter(F.col("error").isNotNull())
            .groupBy("qa_id")
            .agg(
                F.count("*").alias("__n_map_errors"),
                F.min("error").alias("__map_error"),
            )
        )
        joined = joined.join(digest, "qa_id", "left")
        map_err = F.when(
            F.col("__map_error").isNotNull(),
            # min(error) is a deterministic SAMPLE (lexicographically
            # smallest), not the chronologically first failure
            F.format_string(
                "%s map calls failed; e.g.: %s",
                F.col("__n_map_errors").cast("string"),
                F.col("__map_error"),
            ),
        )
    else:
        map_err = F.lit(None).cast("string")
    return joined.select(
        "qa_id",
        "doc_id",
        "question",
        "answer",
        "doc_error",
        "llm_answer",
        "llm_reasoning",
        "llm_evidence",  # JSON-encoded list (reference parse_final_result)
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        "input_tokens",
        "output_tokens",
        # Observability: a null answer must say WHY (round-9 review —
        # a keyless live request previously reported answer=None,
        # error=None). Precedence: document problem > the reduce
        # call's own error > map-call failures > every chunk scored
        # below the relevance threshold.
        F.coalesce(
            "doc_error",
            F.col("error"),
            F.when(
                F.col("llm_answer").isNull()
                & (F.coalesce("n_kept", F.lit(0)) == 0),
                F.coalesce(
                    map_err,
                    F.lit("no chunks passed the relevance filter"),
                ),
            ),
        ).alias("error"),
    )


def judge_stage(answers: DataFrame, cfg: MapReduceConfig) -> DataFrame:
    """W2 fixed batches of 5 → U4 one LLM call per batch → explode and
    J3 key-join back (the reference's positional apply-back replaced by
    a qa_id equi-join — same assignment, no positional arithmetic).

    Scale note: the unpartitioned row_number window is a deliberate
    trade — it reproduces the reference's global consecutive batching
    exactly, and it runs on ONE ROW PER QA (post-reduce), so the
    single-partition sort handles ~N_questions rows, not chunks. At
    cluster scale where even that is too big, switch to
    ``floor(qa_id / batch_size)`` batching (dense ids) or two-level
    (partition, row_number-within-partition) batching — both keep
    batch size ≤ k without a global sort; batch COMPOSITION changes,
    which the judge prompt treats as irrelevant (items are judged
    independently within the XML list)."""
    if cfg.judge_batching == "bucketed":
        # scale path: per-bucket windows sort |qa|/buckets rows each;
        # batch_id = bucket + buckets × chunk-within-bucket is unique
        # across buckets without coordination.
        bucket = F.pmod(F.xxhash64(F.col("qa_id").cast("string")), F.lit(cfg.judge_buckets))
        wb = W.partitionBy("__bucket").orderBy("qa_id")
        batched = (
            answers.withColumn("__bucket", bucket)
            .withColumn(
                "batch_id",
                F.col("__bucket")
                + cfg.judge_buckets
                * F.floor((F.row_number().over(wb) - 1) / cfg.judge_batch_size),
            )
            .drop("__bucket")
        )
    else:
        w = W.orderBy("qa_id")
        batched = answers.withColumn(
            "batch_id",
            F.floor((F.row_number().over(w) - 1) / cfg.judge_batch_size),
        )
    item = F.concat(
        F.lit("<item><llm_answer>"),
        F.coalesce("llm_answer", F.lit("")),
        F.lit("</llm_answer>\n<gold>"),
        F.coalesce("answer", F.lit("")),
        F.lit("</gold></item>"),
    )
    per_batch = (
        batched.withColumn("item_xml", item)
        .groupBy("batch_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("qa_id", "item_xml"))),
                    lambda s: s.item_xml,
                ),
            ).alias("prompt"),
            F.array_sort(F.collect_list("qa_id")).alias("qa_ids"),
        )
        .withColumn(
            "prompt",
            F.format_string(
                cfg.judge_template,
                F.concat(
                    F.lit("<evaluation_items>\n"),
                    F.col("prompt"),
                    F.lit("\n</evaluation_items>"),
                ),
            ),
        )
    )

    import json as _json

    import pandas as pd

    from finmapreduce_spark.llm.client import robust_json_parse

    def batch_judge_builder(pdf: pd.DataFrame, responses: list) -> pd.DataFrame:
        rows = []
        for qa_ids, resp in zip(pdf["qa_ids"], responses):
            qa_ids = list(qa_ids)
            if isinstance(resp, Exception):
                for q in qa_ids:  # per-item Error fallback (reference)
                    rows.append((q, "Error", str(resp)))
                continue
            try:
                parsed = robust_json_parse(resp.content)
            except ValueError:
                parsed = {}
            results = parsed.get("evaluation_results")
            if results is None and "judgement" in parsed:
                results = [{"evaluation_number": 1, **parsed}]
            by_num = {
                int(r.get("evaluation_number", 0)): r for r in (results or [])
            }
            for i, q in enumerate(qa_ids, start=1):
                r = by_num.get(i)
                rows.append(
                    (
                        q,
                        r.get("judgement", "Error") if r else "Error",
                        r.get("reasoning", "") if r else "missing item",
                    )
                )
        return pd.DataFrame(rows, columns=["qa_id", "judgment", "reasoning"])

    return _llm_stage(
        per_batch,
        cfg,
        prompt_col="prompt",
        kind="judge",
        out_schema=JUDGE_OUT_SCHEMA,
        row_builder=batch_judge_builder,
        client_factory=cfg.client_factory,
        # same structural-flag-then-wording gate as reduce: every
        # registry set's judge demands JSON (strict parse+retry);
        # under the bare "%s" default a prose reply degrades to the
        # builder's per-item Error fallback instead of a retry burn
        expect_json=(
            cfg.judge_expect_json
            if cfg.judge_expect_json is not None
            else "json" in cfg.judge_template.lower()
        ),
    )


def preprocess_questions(
    qa: DataFrame, template: str, cfg: MapReduceConfig
) -> DataFrame:
    """U5 as a pipeline stage — reference base_pipeline.py:262-264 +
    535-537 (the ``preprocess_questions`` kwarg): rewrite every
    question through the prompt set's question_improvement template
    before the pipeline runs. A failed call or an unparseable reply
    falls back to the ORIGINAL question (reference :616), so
    preprocessing can never lose a QA. Returns qa with ``question``
    replaced; all other columns pass through."""
    import pandas as pd

    from finmapreduce_spark.llm.client import robust_json_parse

    qa_cols = list(qa.columns)
    with_prompt = qa.withColumn(
        "__prompt", F.format_string(template, F.col("question"), F.lit(""))
    )

    def builder(pdf: pd.DataFrame, responses: list) -> pd.DataFrame:
        improved = []
        for q, r in zip(pdf["question"], responses):
            if isinstance(r, Exception):
                improved.append(q)
                continue
            try:
                improved.append(robust_json_parse(r.content)["improved_question"])
            except (ValueError, KeyError, TypeError):
                improved.append(q)
        # columns in qa order — pandas output matches by position
        return pd.DataFrame(
            {c: improved if c == "question" else pdf[c].values
             for c in qa_cols}
        )

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in qa.schema.fields
    )
    improved = _llm_stage(
        with_prompt,
        cfg,
        prompt_col="__prompt",
        kind="improve",
        out_schema=schema,
        row_builder=builder,
        client_factory=cfg.client_factory,
        expect_json=True,
    )
    return improved.select(*qa.columns)


def run_mapreduce(
    qa: DataFrame, docs: DataFrame, cfg: MapReduceConfig | None = None
) -> dict[str, DataFrame]:
    """Full DAG; returns every stage so callers pick what to act on."""
    cfg = cfg or MapReduceConfig()
    qa_docs = join_documents(qa, docs)
    chunks = chunk_stage(qa_docs, cfg)
    mapped = map_stage(chunks, cfg)
    if cfg.persist_llm_outputs:
        mapped = mapped.persist()
    kept = filter_stage(mapped, cfg)
    reduced = reduce_stage(kept, qa, cfg)
    if cfg.persist_llm_outputs:
        reduced = reduced.persist()
    answers = answers_with_errors(
        qa, qa_docs, reduced,
        # error digest re-reads mapped — only safe when persisted
        mapped=mapped if cfg.persist_llm_outputs else None,
    )
    judgments = judge_stage(answers, cfg)
    return {
        "qa_docs": qa_docs,
        "chunks": chunks,
        "mapped": mapped,
        "kept": kept,
        "reduced": reduced,
        "answers": answers,
        "judgments": judgments,
    }
