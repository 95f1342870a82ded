"""U1–U5 — LLM stages as Arrow-batched mapInPandas operators.

Spark has no async UDFs, so each LLM stage runs its own asyncio event
loop per partition (SURVEY §2.8): the iterator-of-batches shape of
``mapInPandas`` lets one loop drain an entire partition with
``asyncio.gather`` under a per-partition semaphore, mirroring the
reference's global-semaphore fan-out (base_pipeline.py:270-282,
DEFAULT_MAX_CONCURRENT_CHUNKS=50).

Concurrency model at scale: total in-flight requests =
(#partitions carrying LLM rows) × per_partition_concurrency. The
caller sizes partitions via ``repartition(n)`` to hit the global
budget (reference max_total_requests=1000 → e.g. 20 partitions × 50).
Rate limiting is executor-local (DualTokenBucket); task retries /
speculation must stay off for paid stages (session.py disables
speculation) because a re-run re-pays the API.

The client factory is a top-level picklable callable so the client is
constructed inside the worker (no driver-side connection pickling).
"""

from __future__ import annotations

import asyncio
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame

from finmapreduce_spark.llm.client import (
    LLMResponse,
    MockLLM,
    RateLimitConfig,
    RateLimitedClient,
)

DEFAULT_CONCURRENCY = 50  # reference .env.example DEFAULT_MAX_CONCURRENT_CHUNKS


def mock_client_factory() -> RateLimitedClient:
    """Default factory: deterministic mock behind the real limiter
    stack, so tests exercise the production code path end to end.

    The limiter is configured ~unthrottled: the reference's 30k rpm /
    burst-3000 defaults model a PAID API's quota, and with a zero-
    latency mock they dominate wall time (measured 3.7s of pure
    throttle sleep per 5k calls). BENCH measures engine overhead, so
    the mock path keeps the limiter CODE in the loop but not its
    waiting. Real-client factories pass the reference defaults.
    """
    return RateLimitedClient(
        MockLLM(),
        RateLimitConfig(
            requests_per_minute=60_000_000,
            tokens_per_minute=60_000_000_000,
            burst=10_000_000,
        ),
    )


def resolve_provider_config(
    provider: str = "openai",
    model: str | None = None,
    temperature: float | None = None,
    max_tokens: int | None = None,
    base_url: str | None = None,
):
    """Resolve the effective ProviderConfig for a live run: preset →
    env overrides (OPENAI_BASE_URL / OPENAI_MODEL, the same knobs the
    reference factory honors) → explicit args. Split out so the DRIVER
    can resolve the run's identity once — the response-cache namespace
    must reflect the model/endpoint the run will actually hit, not
    just the raw CLI args (two runs differing only in OPENAI_MODEL
    must not share a cache namespace)."""
    import os

    from finmapreduce_spark.llm.client import provider_config

    overrides: dict = {}
    if provider.lower() == "openai":
        if "OPENAI_BASE_URL" in os.environ:
            overrides["base_url"] = os.environ["OPENAI_BASE_URL"]
        if "OPENAI_MODEL" in os.environ:
            overrides["model"] = os.environ["OPENAI_MODEL"]
    # explicit args (CLI --model_name/--temperature/...) beat env
    if model is not None:
        overrides["model"] = model
    if temperature is not None:
        overrides["temperature"] = temperature
    if max_tokens is not None:
        overrides["max_tokens"] = max_tokens
    if base_url is not None:
        overrides["base_url"] = base_url
    return provider_config(provider, **overrides)


def cache_namespace_for(cfg) -> str:
    """Response-cache namespace from a RESOLVED ProviderConfig: the
    triple that determines what a replayed response would have said.
    base_url is included because two OpenAI-compatible endpoints may
    serve different weights under the same model id."""
    return f"{cfg.base_url}:{cfg.model}:{cfg.temperature}"


def provider_client_factory(
    provider: str = "openai",
    model: str | None = None,
    temperature: float | None = None,
    max_tokens: int | None = None,
    base_url: str | None = None,
    requests_per_minute: int | None = None,
    tokens_per_minute: int | None = None,
    burst: int | None = None,
) -> RateLimitedClient:
    """Real-provider factory: the OpenAI-compatible transport behind
    the SAME limiter/retry stack the mock runs under (reference
    async_llm_client.py:52-91 request shaping, main_async.py:67-74
    limiter defaults). Executor-local — one client per Python worker,
    credentials resolved from the worker's own environment. Providers
    (reference factory's two explicit arms): "openai" (OPENAI_API_KEY;
    OPENAI_BASE_URL / OPENAI_MODEL point it at any compatible
    endpoint) and "openrouter" (OPENROUTER_API_KEY against the public
    OpenRouter endpoint). Pass as ``client_factory=`` to run_map /
    run_reduce / judge stages to run the DAG against a live model."""
    import dataclasses

    from finmapreduce_spark.llm.client import OpenAICompatClient

    cfg = resolve_provider_config(
        provider,
        model=model,
        temperature=temperature,
        max_tokens=max_tokens,
        base_url=base_url,
    )
    limits = RateLimitConfig()
    limit_overrides = {
        k: v
        for k, v in (
            ("requests_per_minute", requests_per_minute),
            ("tokens_per_minute", tokens_per_minute),
            ("burst", burst),
        )
        if v is not None
    }
    if limit_overrides:
        limits = dataclasses.replace(limits, **limit_overrides)
    return RateLimitedClient(
        OpenAICompatClient(cfg),
        limits,
        request_cache_size=1024,
    )


def client_for(
    provider: str,
    model: str | None = None,
    temperature: float | None = None,
    max_tokens: int | None = None,
    **limits,
) -> tuple:
    """(client_factory, response-cache namespace) for ``provider``:
    the hermetic mock, or a live provider whose endpoint/model/
    temperature are resolved ONCE on the driver (explicit args beat
    OPENAI_MODEL/OPENAI_BASE_URL env) and pinned into both the
    executor factory and the cache namespace — otherwise two runs with
    different OPENAI_MODEL but no explicit model would share namespace
    "openai::" and replay each other's cached answers. ``limits``:
    provider_client_factory's rate-limit knobs."""
    if provider == "mock":
        return mock_client_factory, ""
    import functools

    resolved = resolve_provider_config(
        provider, model=model, temperature=temperature, max_tokens=max_tokens
    )
    factory = functools.partial(
        provider_client_factory,
        provider,
        model=resolved.model,
        temperature=resolved.temperature,
        max_tokens=resolved.max_tokens,
        base_url=resolved.base_url,
        **limits,
    )
    return factory, f"{provider}:{cache_namespace_for(resolved)}"


def openai_client_factory() -> RateLimitedClient:
    """Back-compat alias for provider_client_factory("openai")."""
    return provider_client_factory("openai")


async def _drain(
    client: RateLimitedClient,
    prompts: list[str],
    kind: str,
    concurrency: int,
    expect_json: bool,
) -> list[LLMResponse | Exception]:
    sem = asyncio.Semaphore(concurrency)

    async def one(p: str):
        async with sem:
            try:
                return await client.acomplete(p, kind=kind, expect_json=expect_json)
            except Exception as e:  # error rows, not stage failure (P5)
                return e

    return await asyncio.gather(*[one(p) for p in prompts])


def run_llm_stage(
    df: DataFrame,
    *,
    prompt_col: str,
    kind: str,
    out_schema: str,
    row_builder: Callable[[pd.DataFrame, list[LLMResponse | Exception]], pd.DataFrame],
    client_factory: Callable[[], RateLimitedClient] = mock_client_factory,
    concurrency: int = DEFAULT_CONCURRENCY,
    expect_json: bool = False,
) -> DataFrame:
    """Generic LLM projection stage: one request per input row.

    ``row_builder(pdf, responses)`` turns the Arrow batch + responses
    into the output batch; per-row exceptions arrive as Exception
    objects so the builder can emit typed error rows (reference
    semantics: per-chunk errors become error results, never task
    failures — mapreduce_pipeline.py:252-268).
    """

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()
        loop = asyncio.new_event_loop()
        try:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                responses = loop.run_until_complete(
                    _drain(
                        client,
                        pdf[prompt_col].fillna("").tolist(),
                        kind,
                        concurrency,
                        expect_json,
                    )
                )
                yield row_builder(pdf, responses)
        finally:
            loop.close()

    return df.mapInPandas(mapper, schema=out_schema)


# ---------------------------------------------------------------------------
# Row builders for the three core stages
# ---------------------------------------------------------------------------

def map_row_builder(pdf: pd.DataFrame, responses: list) -> pd.DataFrame:
    """U1: carry content + usage; downstream P3 extracts/filters score."""
    out = {
        "qa_id": pdf["qa_id"].values,
        "chunk_index": pdf["chunk_index"].values,
        "content": [
            "" if isinstance(r, Exception) else r.content for r in responses
        ],
        "error": [str(r) if isinstance(r, Exception) else None for r in responses],
        "input_tokens": [
            0 if isinstance(r, Exception) else r.input_tokens for r in responses
        ],
        "output_tokens": [
            0 if isinstance(r, Exception) else r.output_tokens for r in responses
        ],
    }
    return pd.DataFrame(out)


MAP_OUT_SCHEMA = (
    "qa_id long, chunk_index int, content string, error string, "
    "input_tokens long, output_tokens long"
)


def reduce_row_builder(pdf: pd.DataFrame, responses: list) -> pd.DataFrame:
    import json

    from finmapreduce_spark.llm.client import robust_json_parse

    answers, reasonings, evidences, errors = [], [], [], []
    for r in responses:
        if isinstance(r, Exception):
            answers.append(None)
            reasonings.append(None)
            evidences.append(None)
            errors.append(str(r))
            continue
        try:
            parsed = robust_json_parse(r.content)
        except ValueError:
            # reference posture: the plain_text reduce uses the RAW
            # reply as the answer (plain_text_formatter.py:70-89) and
            # the truncation formatter falls back to raw text on
            # parse failure (truncation_formatter.py:163-171) — a
            # non-JSON reply is an ANSWER, never a silent None on a
            # paid call (the baseline set's reduce is plain prose by
            # design, so live runs hit this path routinely)
            parsed = {"answer": r.content}
        answers.append(parsed.get("answer"))
        reasonings.append(parsed.get("reasoning"))
        ev = parsed.get("evidence")
        evidences.append(json.dumps(ev) if ev is not None else None)
        errors.append(None)
    return pd.DataFrame(
        {
            "qa_id": pdf["qa_id"].values,
            "n_kept": pdf["n_kept"].values,
            "llm_answer": answers,
            "llm_reasoning": reasonings,
            "llm_evidence": evidences,
            "error": errors,
            "input_tokens": [
                0 if isinstance(r, Exception) else r.input_tokens for r in responses
            ],
            "output_tokens": [
                0 if isinstance(r, Exception) else r.output_tokens for r in responses
            ],
        }
    )


REDUCE_OUT_SCHEMA = (
    "qa_id long, n_kept long, llm_answer string, llm_reasoning string, "
    "llm_evidence string, error string, input_tokens long, output_tokens long"
)


JUDGE_OUT_SCHEMA = "qa_id long, judgment string, reasoning string"


def normalize_judgment(col):
    """P7: lowercase + {'no answer','no_answer'} → 'no_answer'; unknown
    values → 'error' bucket (reference async_evaluation.py:434-451)."""
    from pyspark.sql import functions as F

    low = F.lower(F.trim(col))
    return (
        F.when(low.isin("no answer", "no_answer"), "no_answer")
        .when(low.isin("correct", "coherent", "deviated", "incorrect"), low)
        .otherwise("error")
    )
