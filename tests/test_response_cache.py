"""Cross-run response cache: second run serves every map response from
the parquet table — proven by running it with a client that refuses to
answer."""

from __future__ import annotations

import pytest

from finmapreduce_spark.llm.client import LLMResponse, RateLimitConfig, RateLimitedClient
from finmapreduce_spark.plans.mapreduce import (
    MapReduceConfig,
    chunk_stage,
    join_documents,
    map_stage,
)
from finmapreduce_spark.queries.pipeline import _docs, synthetic_qa


class _Refusing:
    async def acomplete(self, prompt, *, kind="map"):
        raise ConnectionError("no paid calls allowed on the second run")


def refusing_factory():
    return RateLimitedClient(
        _Refusing(),
        RateLimitConfig(max_retries=1, base_backoff_s=0.0, requests_per_minute=10**7,
                        burst=10**6),
    )


def test_second_run_is_fully_cached(spark, sf_dir, tmp_path):
    cache_dir = str(tmp_path / "resp_cache")
    cfg = MapReduceConfig(response_cache_dir=cache_dir)
    qa = synthetic_qa(spark, sf_dir)
    chunks = chunk_stage(join_documents(qa, _docs(spark, sf_dir)), cfg)

    # run 1: cold cache — results must equal the plain (uncached) map
    run1 = map_stage(chunks, cfg)
    want = {
        (r["qa_id"], r["chunk_index"]): r["content"]
        for r in map_stage(chunks, MapReduceConfig()).collect()
    }
    got1 = {(r["qa_id"], r["chunk_index"]): r["content"] for r in run1.collect()}
    assert got1 == want and len(want) > 0

    # run 2: same prompts, client that refuses every call — all hits
    cfg2 = MapReduceConfig(
        response_cache_dir=cache_dir, client_factory=refusing_factory
    )
    run2 = map_stage(chunks, cfg2)
    got2 = {(r["qa_id"], r["chunk_index"]): r["content"] for r in run2.collect()}
    assert got2 == want  # served entirely from the cache table


def test_partial_cache_only_pays_misses(spark, sf_dir, tmp_path):
    cache_dir = str(tmp_path / "resp_cache_partial")
    cfg = MapReduceConfig(response_cache_dir=cache_dir)
    qa = synthetic_qa(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    all_chunks = chunk_stage(join_documents(qa, docs), cfg)
    first_half = all_chunks.filter(all_chunks.qa_id % 2 == 0)

    map_stage(first_half, cfg).count()  # warm half

    # full set with a refusing client: even-qa rows hit, odd-qa rows error
    cfg2 = MapReduceConfig(
        response_cache_dir=cache_dir, client_factory=refusing_factory
    )
    out = map_stage(all_chunks, cfg2).collect()
    by_parity = {0: set(), 1: set()}
    for r in out:
        by_parity[r["qa_id"] % 2].add(r["error"] is None)
    assert by_parity[0] == {True}  # cached half answered
    assert by_parity[1] == {False}  # uncached half became error rows


# ---------------------------------------------------------------------------
# Full-DAG idempotency (SURVEY §4 custom work #2): a second
# run_mapreduce over the same corpus fires ZERO new LLM calls — every
# map, reduce, AND judge prompt is served from the cache table.
# ---------------------------------------------------------------------------

import functools

from finmapreduce_spark.llm.client import MockLLM
from finmapreduce_spark.plans.mapreduce import run_mapreduce


class _CountingMock(MockLLM):
    """Mock that appends one line per acomplete call to a shared file —
    the only cross-process (Python worker) call counter local mode has."""

    def __init__(self, path: str):
        self._path = path

    async def acomplete(self, prompt, *, kind="map"):
        with open(self._path, "a") as f:
            f.write(kind + "\n")
        return await super().acomplete(prompt, kind=kind)


def counting_factory(path: str) -> RateLimitedClient:
    return RateLimitedClient(
        _CountingMock(path),
        RateLimitConfig(
            requests_per_minute=10**7, tokens_per_minute=10**10, burst=10**6
        ),
    )


def _count_calls(path) -> int:
    try:
        with open(path) as f:
            return sum(1 for _ in f)
    except FileNotFoundError:
        return 0


def test_full_dag_second_run_fires_zero_llm_calls(spark, tmp_path):
    calls = str(tmp_path / "calls.log")
    cfg = MapReduceConfig(
        chunk_size=120,
        chunk_overlap=20,
        response_cache_dir=str(tmp_path / "dag_cache"),
        client_factory=functools.partial(counting_factory, calls),
        persist_llm_outputs=True,
    )
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma " * 30), (1, "short doc"), (3, "delta " * 60)],
        "doc_id long, text string",
    )
    qa = spark.createDataFrame(
        [(i, d, f"question {i}?", "gold") for i, d in enumerate([0, 0, 1, 3, 999])],
        "qa_id long, doc_id long, question string, answer string",
    )

    run1 = run_mapreduce(qa, docs, cfg)
    j1 = sorted((r["qa_id"], r["judgment"]) for r in run1["judgments"].collect())
    a1 = sorted(
        (r["qa_id"], r["llm_answer"]) for r in run1["answers"].collect()
    )
    n1 = _count_calls(calls)
    assert n1 > 0, "first run should pay LLM calls"
    assert len(j1) == 5

    run2 = run_mapreduce(qa, docs, cfg)
    j2 = sorted((r["qa_id"], r["judgment"]) for r in run2["judgments"].collect())
    a2 = sorted(
        (r["qa_id"], r["llm_answer"]) for r in run2["answers"].collect()
    )
    n2 = _count_calls(calls)
    assert n2 == n1, f"second run paid {n2 - n1} new LLM calls"
    assert j2 == j1 and a2 == a1  # cached run is value-identical


def test_compaction_preserves_zero_call_idempotency(spark, tmp_path):
    """Compacting the cache (dedupe + rewrite + staging cleanup) must
    not lose any served response: a post-compaction re-run still fires
    zero LLM calls and returns identical values."""
    from finmapreduce_spark.llm.response_cache import compact_response_cache

    calls = str(tmp_path / "calls.log")
    cache_dir = str(tmp_path / "c")
    cfg = MapReduceConfig(
        chunk_size=120,
        chunk_overlap=20,
        response_cache_dir=cache_dir,
        client_factory=functools.partial(counting_factory, calls),
    )
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma " * 30), (1, "short doc")],
        "doc_id long, text string",
    )
    qa = spark.createDataFrame(
        [(i, d, f"question {i}?", "gold") for i, d in enumerate([0, 1])],
        "qa_id long, doc_id long, question string, answer string",
    )
    run1 = run_mapreduce(qa, docs, cfg)
    j1 = sorted((r["qa_id"], r["judgment"]) for r in run1["judgments"].collect())
    n1 = _count_calls(calls)

    # quiesce guard: the run we just finished left fresh staging
    # writes, so the default (enforced-offline) posture must refuse
    with pytest.raises(RuntimeError, match="quiesce"):
        compact_response_cache(spark, cache_dir)
    stats = compact_response_cache(spark, cache_dir, quiesce_s=0)
    assert stats["rows"] > 0
    assert stats["files_after"] <= stats["files_before"]
    import os as _os

    # staging is PRESERVED across the swap (a finished job may still
    # lazily re-read its staged raws); prune reclaims it explicitly —
    # entries younger than the window stay, a zero window drops all
    from finmapreduce_spark.llm.response_cache import prune_response_staging

    staging = _os.path.join(cache_dir, "_staging")
    assert _os.path.isdir(staging) and _os.listdir(staging)
    assert prune_response_staging(cache_dir, older_than_s=10_000) == 0
    assert prune_response_staging(cache_dir, older_than_s=0) > 0
    assert not _os.listdir(staging)

    run2 = run_mapreduce(qa, docs, cfg)
    j2 = sorted((r["qa_id"], r["judgment"]) for r in run2["judgments"].collect())
    assert _count_calls(calls) == n1  # zero new calls post-compaction
    assert j2 == j1


def test_namespace_separates_models(spark, sf_dir, tmp_path):
    """Different cache namespaces (provider:model:temperature) must
    NOT replay each other's responses: after warming under namespace A,
    a run under namespace B with a refusing client gets error rows,
    not A's cached answers."""
    cache_dir = str(tmp_path / "ns_cache")
    qa = synthetic_qa(spark, sf_dir)
    chunks = chunk_stage(join_documents(qa, _docs(spark, sf_dir)),
                         MapReduceConfig())
    cfg_a = MapReduceConfig(
        response_cache_dir=cache_dir,
        response_cache_namespace="openai:gpt-4o-mini:0.0",
    )
    map_stage(chunks, cfg_a).count()  # warm under model A

    cfg_b = MapReduceConfig(
        response_cache_dir=cache_dir,
        response_cache_namespace="openai:gpt-4o:0.0",
        client_factory=refusing_factory,
    )
    out_b = map_stage(chunks, cfg_b).collect()
    assert all(r["error"] is not None for r in out_b)  # nothing replayed

    # and the SAME namespace does replay
    cfg_a2 = MapReduceConfig(
        response_cache_dir=cache_dir,
        response_cache_namespace="openai:gpt-4o-mini:0.0",
        client_factory=refusing_factory,
    )
    out_a = map_stage(chunks, cfg_a2).collect()
    assert all(r["error"] is None for r in out_a)


def test_interrupted_compaction_recovers(spark, sf_dir, tmp_path):
    """A compaction killed between its two renames leaves the table at
    .compact-old; the next reader restores it instead of silently
    re-paying every prompt."""
    import os

    cache_dir = str(tmp_path / "crash_cache")
    qa = synthetic_qa(spark, sf_dir)
    chunks = chunk_stage(join_documents(qa, _docs(spark, sf_dir)),
                         MapReduceConfig())
    cfg = MapReduceConfig(response_cache_dir=cache_dir)
    map_stage(chunks, cfg).count()  # warm

    # simulate the crash window: table renamed away, new one never landed
    os.rename(cache_dir, cache_dir + ".compact-old")

    cfg2 = MapReduceConfig(
        response_cache_dir=cache_dir, client_factory=refusing_factory
    )
    out = map_stage(chunks, cfg2).collect()
    assert all(r["error"] is None for r in out)  # recovered, all hits


def test_compaction_lock_excludes_writers_and_compactors(spark, sf_dir, tmp_path):
    """ADVICE r05: the offline assumption is enforced. While the
    compact lock is held, (a) a second compactor refuses, and (b) a
    cached stage run refuses to start (its staged raws would be lost
    in the directory swap). The lock is released on completion, and a
    stale lock is stolen."""
    import os
    import time

    from finmapreduce_spark.llm.response_cache import compact_response_cache
    from finmapreduce_spark.sources.sinks import (
        store_lock_path as _compact_lock_path,
    )

    cache_dir = str(tmp_path / "lock_cache")
    qa = synthetic_qa(spark, sf_dir)
    chunks = chunk_stage(join_documents(qa, _docs(spark, sf_dir)),
                         MapReduceConfig())
    cfg = MapReduceConfig(response_cache_dir=cache_dir)
    map_stage(chunks, cfg).count()  # warm

    lock = _compact_lock_path(cache_dir)
    with open(lock, "w") as fh:
        fh.write("pid=held\n")
    try:
        with pytest.raises(RuntimeError, match="holds"):
            compact_response_cache(spark, cache_dir, quiesce_s=0)
        with pytest.raises(RuntimeError, match="compacted"):
            map_stage(chunks, cfg).count()
    finally:
        os.remove(lock)

    # a stale lock (older than stale_lock_s) is stolen, and the lock
    # is gone after a successful compaction
    with open(lock, "w") as fh:
        fh.write("pid=crashed\n")
    old = time.time() - 7200
    os.utime(lock, (old, old))
    stats = compact_response_cache(spark, cache_dir, quiesce_s=0,
                                   stale_lock_s=3600)
    assert stats["rows"] > 0
    assert not os.path.exists(lock)


def test_truncation_second_run_fires_zero_llm_calls(spark, tmp_path):
    """Paid-call idempotency parity for the TRUNCATION approach: a
    second run_truncation over the same corpus serves every response
    from the cache table (zero new calls), value-identical."""
    from finmapreduce_spark.plans.truncation import (
        TruncationConfig,
        run_truncation,
    )

    calls = str(tmp_path / "calls.log")
    cfg = TruncationConfig(
        max_doc_tokens=40,
        response_cache_dir=str(tmp_path / "tc"),
        client_factory=functools.partial(counting_factory, calls),
    )
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma " * 30), (1, "short doc")],
        "doc_id long, text string",
    )
    qa = spark.createDataFrame(
        [(i, d, f"question {i}?", "gold") for i, d in enumerate([0, 1, 999])],
        "qa_id long, doc_id long, question string, answer string",
    )
    r1 = sorted(
        (r["qa_id"], r["llm_answer"])
        for r in run_truncation(qa, docs, cfg)["answered"].collect()
    )
    n1 = _count_calls(calls)
    assert n1 > 0
    r2 = sorted(
        (r["qa_id"], r["llm_answer"])
        for r in run_truncation(qa, docs, cfg)["answered"].collect()
    )
    assert _count_calls(calls) == n1  # zero new paid calls
    assert r2 == r1
