"""Single-QA serving API — parity with the webapp's
``process_single_qa_async`` surface (§3.2; reference
webapp/backend/api/endpoints.py:183-304: one uploaded document + one
question → answer/reasoning/evidence + token stats, no judge).

The same declarative DAG runs on a 1-row DataFrame (the reference
keeps a pipeline-instance cache for the same reason we keep the shared
SparkSession). A request is a one-partition plan: the upload is a
one-row ``LocalRelation`` (sources.readers.load_upload), the scan
floor never widens past that known row count
(operators.parallelism.scan_floor), and ``n_chunks`` is counted from
the persisted map output rather than by re-chunking — so every stage
runs exactly one task and none runs twice. Spark's cost at n=1 is then
a fixed chain of about a dozen single-task stages, with no Python task
on an empty partition. For
sustained request streams, use streaming/pipeline.py::serve_mapreduce
(micro-batched foreachBatch).

Also here: ``preview`` — the reference's POST /preview (full-doc load
+ first-2000-chars, endpoints.py:351-423).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from finmapreduce_spark.plans.mapreduce import MapReduceConfig, run_mapreduce
from finmapreduce_spark.sources.readers import load_upload

PREVIEW_CHARS = 2000  # W6 (endpoints.py:398-401)


def answer_single(
    spark: SparkSession,
    path: str,
    question: str,
    cfg: MapReduceConfig | None = None,
    approach: str = "mapreduce",
    strategy: str = "start",
    max_doc_tokens: int = 8192,
    pdf_parser: str = "auto",
) -> dict:
    """Answer one question about one uploaded file; returns the
    AnswerResponse-shaped dict (answer/reasoning/evidence, token and
    chunk stats, error if the document was unusable).

    ``approach`` selects the pipeline per request exactly as the
    reference webapp does (endpoints.py:62: mapreduce reads
    format_type, truncation reads strategy) — "mapreduce" runs the
    chunked DAG under ``cfg``; "truncation" runs the full-doc
    truncate-and-answer path (U3) with ``strategy``/``max_doc_tokens``.
    """
    cfg = cfg or MapReduceConfig()
    if approach == "truncation":
        return _answer_truncation(
            spark, path, question, strategy, max_doc_tokens, pdf_parser,
            client_factory=cfg.client_factory,
            response_cache_dir=cfg.response_cache_dir,
            response_cache_namespace=cfg.response_cache_namespace,
        )
    # serving is a real-client surface: persist LLM stages so paid
    # calls fire exactly once per request (SURVEY §7 M5) — this also
    # makes the per-QA map-error digest safe (answers_with_errors)
    import dataclasses

    cfg = dataclasses.replace(cfg, persist_llm_outputs=True)
    qa_row = load_upload(spark, path, question, pdf_parser=pdf_parser)
    qa = qa_row.select(
        "qa_id",
        F.col("doc_name").alias("doc_id"),
        "question",
        F.lit(None).cast("string").alias("answer"),  # no gold in serving
    )
    docs = qa_row.select(
        F.col("doc_name").alias("doc_id"), F.col("content").alias("text")
    )
    import time
    import uuid

    t0 = time.time()
    stages = run_mapreduce(qa, docs, cfg)
    try:
        row = stages["answers"].collect()[0].asDict()
        # one map row per chunk, read from the persisted map output
        # that answering just materialized — counting ``chunks`` would
        # re-run the doc join and the tokenizer
        n_chunks = stages["mapped"].count()
    finally:
        # per-request persists must not accumulate across a
        # long-lived server EVEN when the request fails mid-action
        # (the HTTP layer catches and keeps serving)
        stages["mapped"].unpersist()
        stages["reduced"].unpersist()
    total_time = round(time.time() - t0, 3)
    # Reference AnswerResponse structure (endpoints.py:279-293:
    # token_stats / timing_stats / chunk_stats / request_id) alongside
    # the flat legacy keys.
    return {
        "answer": row.get("llm_answer"),
        "reasoning": row.get("llm_reasoning"),
        "evidence": row.get("llm_evidence"),
        "error": row.get("doc_error") or row.get("error"),
        "input_tokens": row.get("input_tokens"),
        "output_tokens": row.get("output_tokens"),
        "n_chunks": n_chunks,
        "n_kept": row.get("n_kept"),
        "token_stats": {
            "input_tokens": row.get("input_tokens"),
            "output_tokens": row.get("output_tokens"),
        },
        "timing_stats": {"total_time": total_time},
        "chunk_stats": {
            "total_chunks": n_chunks,
            "chunks_after_filtering": row.get("n_kept"),
        },
        "request_id": uuid.uuid4().hex,
    }


def _answer_truncation(
    spark: SparkSession,
    path: str,
    question: str,
    strategy: str,
    max_doc_tokens: int,
    pdf_parser: str = "auto",
    client_factory=None,
    response_cache_dir: str | None = None,
    response_cache_namespace: str = "",
) -> dict:
    from finmapreduce_spark.llm.runner import mock_client_factory
    from finmapreduce_spark.plans.truncation import (
        TruncationConfig,
        run_truncation,
    )

    qa_row = load_upload(spark, path, question, pdf_parser=pdf_parser)
    qa = qa_row.select(
        "qa_id",
        F.col("doc_name").alias("doc_id"),
        "question",
        F.lit(None).cast("string").alias("answer"),
    )
    docs = qa_row.select(
        F.col("doc_name").alias("doc_id"), F.col("content").alias("text")
    )
    # the serving cfg's client factory must reach the truncation DAG
    # too — dropping it here would answer live requests with the mock
    tcfg = TruncationConfig(
        max_doc_tokens=max_doc_tokens,
        strategy=strategy,
        client_factory=client_factory or mock_client_factory,
        # serving cache parity: repeat questions over the same upload
        # replay for free, same as the mapreduce serving path
        response_cache_dir=response_cache_dir,
        response_cache_namespace=response_cache_namespace,
    )
    stages = run_truncation(qa, docs, tcfg)
    rows = stages["answered"].collect()
    if not rows:  # doc_error path: empty/unusable document
        err_rows = stages["qa_docs"].select("doc_error").collect()
        err = err_rows[0]["doc_error"] if err_rows else "document not found"
        return {
            "answer": None, "reasoning": None, "evidence": None,
            "error": err, "input_tokens": 0, "output_tokens": 0,
            "n_chunks": 0, "n_kept": 0,
        }
    row = rows[0].asDict()
    return {
        "answer": row.get("llm_answer"),
        "reasoning": row.get("llm_reasoning"),
        "evidence": None,
        "error": row.get("error"),
        # the truncation answer schema carries truncation stats, not
        # token usage (reference parity: TruncationResponse shape)
        "trunc_applied": row.get("trunc_applied"),
        "trunc_retention": row.get("trunc_retention"),
        "n_chunks": 1,  # full-doc path: one truncated context
        "n_kept": 1 if row.get("llm_answer") else 0,
    }


def preview(spark: SparkSession, path: str, pdf_parser: str = "auto") -> dict:
    """Full-document load + first-2000-chars preview (P6-validated)."""
    row = load_upload(spark, path, question="", pdf_parser=pdf_parser).collect()[0]
    content = row["content"] or ""
    return {
        "doc_name": row["doc_name"],
        "preview": content[:PREVIEW_CHARS],
        "n_chars": len(content),
    }
