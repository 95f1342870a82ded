"""CLI batch entry point — parity with the reference's primary surface
(§3.1: ``python main_async.py --dataset financebench --approach
mapreduce --format_type hybrid`` + PipelineFactory validation,
main_async.py:40-101, src/core/factory.py:21-68).

Spark-first translation: argument surface and registry validation are
preserved; the "pipeline object graph" the reference factory builds is
here just the declarative DAG (plans/mapreduce.py, plans/truncation.py)
applied to loader output. The LLM client defaults to the deterministic
mock (hermetic runs); a real OpenAI-compatible client plugs in through
the same factory seam (llm/client.py).

  python -m finmapreduce_spark --dataset financebench \
      --data_path qa.jsonl --docs_glob 'docs/*.md' \
      --approach mapreduce --format_type hybrid --num_samples 10
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

DATASETS = ("financebench", "finqa")
APPROACHES = ("mapreduce", "truncation")
FORMATS = ("json", "hybrid", "plain_text")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="finmapreduce_spark")
    p.add_argument("--dataset", choices=DATASETS, default="financebench")
    p.add_argument("--approach", choices=APPROACHES, default="mapreduce")
    p.add_argument("--format_type", choices=FORMATS, default="hybrid")
    p.add_argument("--data_path", required=True)
    p.add_argument("--docs_glob", required=True,
                   help="corpus glob (markdown by default; PDFs when "
                        "--docs_format pdf)")
    p.add_argument("--docs_format", choices=("markdown", "pdf"),
                   default="markdown")
    p.add_argument("--pdf_parser",
                   choices=("auto", "marker", "pypdf", "pdfminer", "fake"),
                   default="auto",
                   help="S4/S5 parser chain for --docs_format pdf "
                        "(reference --pdf_parser)")
    p.add_argument("--preprocess_questions", action="store_true",
                   help="rewrite questions through the prompt set's "
                        "question_improvement template before the run "
                        "(reference base_pipeline.py:262-264; only the "
                        "hybrid set defines the template — other sets "
                        "warn and keep the originals)")
    p.add_argument("--comment", default=None,
                   help="free-form run note recorded in the results config")
    p.add_argument("--output_dir", default="results")
    p.add_argument("--num_samples", type=int, default=None)
    # reference defaults: main_async.py:44-51
    p.add_argument("--chunk_size", type=int, default=32768)
    p.add_argument("--chunk_overlap", type=int, default=4096)
    p.add_argument("--token_model", choices=("bpe", "tiktoken", "words", "chars"),
                   default=None,
                   help="budget model for chunk sizes and truncation: "
                        "default resolves FMR_TOKEN_MODEL -> 'bpe' "
                        "(tokenizer-exact under the vendored merges; the "
                        "reference counts tiktoken tokens — its 32768/4096 "
                        "defaults are TOKEN budgets); 'tiktoken' = "
                        "reference-identical cl100k when installed; "
                        "'chars'/'words' = the closed-form legacy model")
    p.add_argument("--score_threshold", type=int, default=None,
                   help="default 5 (json/hybrid) or 50 (plain_text)")
    p.add_argument("--truncation_strategy", choices=("start", "end", "smart"),
                   default="start")
    p.add_argument("--max_doc_tokens", type=int, default=8192)
    p.add_argument("--max_concurrent_chunks", type=int, default=50,
                   help="per-partition async LLM request concurrency "
                        "(reference DEFAULT_MAX_CONCURRENT_CHUNKS)")
    # live-model arms (reference main_async.py:31-74). Default "mock"
    # keeps runs hermetic; openai/openrouter use the real
    # OpenAI-compatible transport with keys from the environment.
    p.add_argument("--provider", choices=("mock", "openai", "openrouter"),
                   default="mock")
    p.add_argument("--model_name", default=None,
                   help="model id for the live provider")
    p.add_argument("--temperature", type=float, default=None)
    p.add_argument("--llm_max_tokens", type=int, default=None,
                   help="completion token cap (reference --max-tokens)")
    p.add_argument("--requests_per_minute", type=int, default=None)
    p.add_argument("--tokens_per_minute", type=int, default=None)
    p.add_argument("--request_burst_size", type=int, default=None)
    p.add_argument("--max_total_requests", type=int, default=None,
                   help="global in-flight request cap (reference "
                        "main_async.py:73): sets LLM-stage partitions "
                        "to cap/max_concurrent_chunks so partitions x "
                        "per-partition concurrency <= cap")
    p.add_argument("--prompt_set", default=None,
                   help="prompt set name (default/baseline/standard/"
                        "hybrid/direct/finqa, reference "
                        "prompt_config.yml); default auto-detects "
                        "from format_type (main_async.py:92-101)")
    # truncation budget combo (F6): explicit max_doc_tokens wins, else
    # max(1000, context_window - question_tokens - buffer) per doc
    p.add_argument("--context_window", type=int, default=None)
    p.add_argument("--buffer", type=int, default=2000)
    p.add_argument("--response_cache_dir", default=None,
                   help="parquet response-cache table: re-runs over the "
                        "same corpus pay only for new prompts "
                        "(llm/response_cache.py)")
    return p


def run(argv: list[str] | None = None, spark=None) -> str:
    """Execute one batch run; returns the results directory path."""
    args = build_parser().parse_args(argv)
    threshold = args.score_threshold
    if threshold is None:
        threshold = 50 if args.format_type == "plain_text" else 5

    from finmapreduce_spark.llm.prompts import (
        auto_prompt_set,
        load_prompt_set,
        prompt_config,
    )
    from finmapreduce_spark.session import get_spark
    from finmapreduce_spark.sources.readers import (
        load_financebench,
        load_finqa,
        load_markdown_documents,
    )
    from finmapreduce_spark.sources.sinks import save_results

    # S12 registry + validation; --prompt_set overrides the
    # format-derived auto-detection (reference --prompt,
    # main_async.py:92-101: hybrid→hybrid, plain_text→baseline,
    # json→default)
    prompt_set_name = args.prompt_set or auto_prompt_set(args.format_type)
    prompt_set = load_prompt_set(prompt_set_name)
    spark = spark or get_spark("finmapreduce_cli")

    # client factory: hermetic mock by default; live providers build
    # the OpenAI-compatible transport per executor (keys from env)
    from finmapreduce_spark.llm.runner import client_for

    client_factory, cache_namespace = client_for(
        args.provider,
        model=args.model_name,
        temperature=args.temperature,
        max_tokens=args.llm_max_tokens,
        requests_per_minute=args.requests_per_minute,
        tokens_per_minute=args.tokens_per_minute,
        burst=args.request_burst_size,
    )

    loader = load_financebench if args.dataset == "financebench" else load_finqa
    qa_raw = loader(spark, args.data_path, num_samples=args.num_samples)
    # Deterministic, distributed id: a hash of the natural key instead
    # of row_number() over a global (single-partition) window. Collision
    # guard below — one tiny agg over the QA table, negligible next to
    # the corpus scan — keeps the uniqueness contract explicit.
    qa = qa_raw.withColumn(
        "qa_id", F.xxhash64("doc_name", "question").cast("long")
    ).select("qa_id", F.col("doc_name").alias("doc_id"), "question", "answer")
    dup = (
        qa.groupBy("qa_id").count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise RuntimeError(
            "qa_id hash collision on (doc_name, question); "
            "deduplicate the QA input or extend the hash key"
        )

    if args.docs_format == "pdf":
        from finmapreduce_spark.sources.readers import load_pdf_documents

        docs_raw = load_pdf_documents(spark, args.docs_glob, parser=args.pdf_parser)
    else:
        docs_raw = load_markdown_documents(spark, args.docs_glob)
    docs = docs_raw.select(
        F.col("doc_name").alias("doc_id"), F.col("content").alias("text")
    )

    if args.max_concurrent_chunks < 1:
        raise SystemExit("--max_concurrent_chunks must be >= 1")
    # global cap: partitions × per-partition concurrency ≤ cap, so a
    # cap SMALLER than the per-partition setting must clamp the
    # per-partition concurrency too (cap 20 with concurrency 50 would
    # otherwise run 50 in flight)
    concurrency = args.max_concurrent_chunks
    llm_partitions = None
    if args.max_total_requests:
        concurrency = max(1, min(concurrency, args.max_total_requests))
        llm_partitions = max(1, args.max_total_requests // concurrency)
    # cache identity resolved above: a live model's responses must not
    # replay for a DIFFERENT model/endpoint/temperature sharing the
    # cache dir (namespace derives from the RESOLVED provider config,
    # not raw CLI args — OPENAI_MODEL/OPENAI_BASE_URL count)

    if args.preprocess_questions:
        # reference base_pipeline.py:262-264 + :593-596 (shared base —
        # applies to BOTH approaches): rewrite questions through the
        # set's improvement template when it defines one; warn and
        # keep the originals otherwise. Failed/unparseable calls fall
        # back to the original question per row.
        if "question_improvement" in prompt_set:
            from finmapreduce_spark.plans.mapreduce import (
                MapReduceConfig as _PreCfg,
                preprocess_questions,
            )

            qa = preprocess_questions(
                qa,
                prompt_set["question_improvement"],
                _PreCfg(
                    client_factory=client_factory,
                    concurrency=concurrency,
                    llm_partitions=llm_partitions,
                    response_cache_dir=args.response_cache_dir,
                    response_cache_namespace=cache_namespace,
                ),
            ).persist()  # paid stage: fire once, reuse downstream
        else:
            print(
                f"Warning: prompt set {prompt_set_name!r} has no "
                "question_improvement template, keeping original questions"
            )

    if args.approach == "mapreduce":
        from finmapreduce_spark.plans.mapreduce import MapReduceConfig, run_mapreduce

        cfg = MapReduceConfig(
            chunk_size=args.chunk_size,
            chunk_overlap=args.chunk_overlap,
            token_model=args.token_model,
            score_threshold=threshold,
            format_type=args.format_type,  # P2: json → struct filter
            concurrency=concurrency,
            llm_partitions=llm_partitions,
            response_cache_dir=args.response_cache_dir,
            response_cache_namespace=cache_namespace,
            client_factory=client_factory,
            **prompt_config(prompt_set_name),
            # real-run posture: the sink's write+stats and the judge all
            # consume `answers`; persist so LLM stages fire exactly once
            persist_llm_outputs=True,
        )
        answers = run_mapreduce(qa, docs, cfg)["answers"]
    else:
        from finmapreduce_spark.plans.truncation import (
            TruncationConfig,
            run_truncation,
        )

        cfg = TruncationConfig(
            max_doc_tokens=args.max_doc_tokens,
            strategy=args.truncation_strategy,
            token_model=(
                "words" if args.token_model == "chars" else args.token_model
            ),
            client_factory=client_factory,
            context_window=args.context_window,
            buffer=args.buffer,
            response_cache_dir=args.response_cache_dir,
            response_cache_namespace=cache_namespace,
        )
        answers = run_truncation(qa, docs, cfg)["answered"]

    out_dir = save_results(
        answers,
        args.output_dir,
        # record the RESOLVED set name, as the reference's results
        # config does (base_pipeline.py:430)
        config={**vars(args), "prompt_set": prompt_set_name},
    )
    with open(f"{out_dir}/_summary.json") as f:
        print(json.dumps(json.load(f)["stats"]))
    return out_dir


def main() -> None:  # pragma: no cover - thin shell
    run(sys.argv[1:])
