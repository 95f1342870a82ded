"""The workloads: batch QA through ``cli.run`` plus the judge,
interactive ``POST /answer`` against ``http_api.make_server``, and
corpus curation through ``curate.run``.

Each workload class exposes ``start(spark)``/``stop()`` around a session,
``op(spark, k)`` for one plain (untraced) job or request and
``traced_op(spark, k, tracer, rest)`` for the same work cut into
stages.  Both return the op's output for the correctness check.
"""

from __future__ import annotations

import contextlib
import http.client
import io
import json
import os
import shutil
import threading
import time

from perfbench import reference
from perfbench.trace import node_metric, rows_into, spark_totals, stage_sum

ANSWERS_DDL = (
    "qa_id long, doc_id string, question string, answer string, doc_error string, "
    "llm_answer string, llm_reasoning string, llm_evidence string, n_kept long, "
    "input_tokens long, output_tokens long, error string"
)
# outcomes the inputs plant on purpose; any other row error is a failure
PLANTED = {"document not found", "no chunks passed the relevance filter"}


def pinned_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release(spark) -> None:
    from finmapreduce_spark.operators.checkpoints import release_all_persistent_rdds

    spark.catalog.clearCache()
    release_all_persistent_rdds(spark)


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


@contextlib.contextmanager
def patched(*replacements):
    """Set ``(module, name, value)`` attributes for the block, then put
    the originals back."""
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in replacements]
    for mod, name, value in replacements:
        setattr(mod, name, value)
    try:
        yield
    finally:
        for mod, name, value in saved:
            setattr(mod, name, value)


class Stages:
    """Span plus Spark job group per stage of one traced op.  Stages
    nest; leaving one restores the enclosing stage's job group."""

    def __init__(self, spark, tracer, rest, op: str):
        self.sc = spark.sparkContext
        self.tracer, self.rest, self.op = tracer, rest, op
        self.groups: set[str] = set()
        self.storage = [0.0]
        self._open: list[str] = []

    @contextlib.contextmanager
    def __call__(self, name: str):
        group = f"{self.op}:{name}"
        self.groups.add(group)
        self._open.append(group)
        self.sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name, self.op):
                yield
        finally:
            self._open.pop()
            outer = self._open[-1] if self._open else ""
            self.sc.setJobGroup(outer, outer)
            self.storage.append(self.rest.storage_mb())

    def plan(self, name: str, fn, *args):
        """A driver-side plan-building call: it runs no Spark job."""
        with self.tracer.span(name, self.op, kind="plan"):
            return fn(*args)


class BatchQA:
    """``qa_longdoc``: one job = ``cli.run`` with the CLI defaults,
    then ``judge_stage`` over the written answers and a second
    ``save_results`` for the judgments."""

    def __init__(self, name: str, inputs: str, work: str):
        from finmapreduce_spark.cli import build_parser

        self.name = name
        self.inputs = inputs
        self.jobs_dir = os.path.join(work, "jobs")
        data = os.path.join(inputs, "qa.jsonl")
        self.argv = ["--dataset", "financebench", "--data_path", data,
                     "--docs_glob", os.path.join(inputs, "docs", "*.md")]
        self.args = build_parser().parse_args(self.argv)
        self.cfg = None  # the MapReduceConfig cli.run builds, kept by the first job
        with open(data) as f:
            self.qa_rows = [json.loads(line) for line in f]

    # -- reference --------------------------------------------------------
    def expected(self) -> dict:
        """The CLI's documented defaults, stated independently of the
        config object the engine builds from them."""
        from finmapreduce_spark.llm.prompts import auto_prompt_set, load_prompt_set

        a = self.args
        prompts = load_prompt_set(auto_prompt_set(a.format_type))
        ref = reference.QAReference(
            chunk_size=a.chunk_size, chunk_overlap=a.chunk_overlap,
            map_template=prompts["map"], reduce_template=prompts["reduce"],
            judge_template=prompts["judge"], score_threshold=5)
        docs = reference.read_docs(os.path.join(self.inputs, "docs"))
        return reference.batch_expected(ref, self.qa_rows, docs)

    def check(self, expected: dict, result: tuple[str, str]) -> tuple[int, int, list[str]]:
        """(attempted, failed, mismatches) for one job's written output."""
        answers = reference.read_json_dir(result[0])
        judged = reference.read_json_dir(result[1])
        failed = sum(1 for a in answers if a.get("error") and a["error"] not in PLANTED)
        failed += sum(1 for j in judged if j.get("judgment") == "Error")
        return len(expected), failed, reference.batch_mismatches(expected, answers, judged)

    # -- session lifecycle ------------------------------------------------
    def start(self, spark) -> None:
        os.makedirs(self.jobs_dir, exist_ok=True)

    def stop(self) -> None:
        pass

    def cleanup(self, k) -> None:
        shutil.rmtree(os.path.join(self.jobs_dir, str(k)), ignore_errors=True)

    def _keep_config(self):
        """Keep the config ``cli.run`` hands to ``run_mapreduce``, so the
        judge and the traced job run with exactly the CLI's settings."""
        from finmapreduce_spark.plans import mapreduce as mr

        real = mr.run_mapreduce

        def keeping(qa, docs, cfg):
            self.cfg = cfg
            return real(qa, docs, cfg)

        return patched((mr, "run_mapreduce", keeping))

    # -- one plain job ----------------------------------------------------
    def op(self, spark, k) -> tuple[str, str]:
        """One job; the first one also keeps the CLI's config."""
        from finmapreduce_spark import cli
        from finmapreduce_spark.plans.mapreduce import judge_stage
        from finmapreduce_spark.sources.sinks import save_results

        out = os.path.join(self.jobs_dir, str(k))
        argv = self.argv + ["--output_dir", os.path.join(out, "answers")]
        keep = self._keep_config() if self.cfg is None else contextlib.nullcontext()
        with contextlib.redirect_stdout(io.StringIO()), keep:  # the CLI prints its stats
            answers_dir = cli.run(argv, spark=spark)
        answers = spark.read.schema(ANSWERS_DDL).json(answers_dir)
        judged_dir = save_results(judge_stage(answers, self.cfg),
                                  os.path.join(out, "judged"))
        return answers_dir, judged_dir

    # -- one traced job ---------------------------------------------------
    def traced_op(self, spark, k, tracer, rest) -> tuple[tuple[str, str], dict]:
        """The plain job's stages one at a time, each materialized
        under its own job group; returns (output, per-layer counts)."""
        from pyspark.sql import functions as F

        from finmapreduce_spark.plans import mapreduce as mr
        from finmapreduce_spark.sources import readers
        from finmapreduce_spark.sources.sinks import save_results

        a, cfg = self.args, self.cfg
        op = f"{self.name}-{k}"
        out = os.path.join(self.jobs_dir, str(k))
        stage = Stages(spark, tracer, rest, op)
        plan = stage.plan
        with tracer.span("job", op, kind="op"):
            with stage("sources.read"):
                qa_raw = plan("readers.load_financebench", readers.load_financebench,
                              spark, a.data_path)
                docs_raw = plan("readers.load_markdown_documents",
                                readers.load_markdown_documents, spark, a.docs_glob)
                qa = qa_raw.withColumn(
                    "qa_id", F.xxhash64("doc_name", "question").cast("long")
                ).select("qa_id", F.col("doc_name").alias("doc_id"), "question", "answer")
                docs = docs_raw.select(F.col("doc_name").alias("doc_id"),
                                       F.col("content").alias("text"))
                qa = qa.persist()
                if qa.groupBy("qa_id").count().filter(F.col("count") > 1).limit(1).count():
                    raise RuntimeError("qa_id collision")
                docs = docs.persist()
                docs.count()
            with stage("functions.chunk"):
                qa_docs = plan("mapreduce.join_documents", mr.join_documents, qa, docs).persist()
                chunks = plan("mapreduce.chunk_stage", mr.chunk_stage, qa_docs, cfg).persist()
                n_chunks = chunks.count()
            with stage("llm.map"):
                mapped = plan("mapreduce.map_stage", mr.map_stage, chunks, cfg).persist()
                n_mapped = mapped.count()
            with stage("llm.reduce"):
                kept = plan("mapreduce.filter_stage", mr.filter_stage, mapped, cfg).persist()
                n_kept = kept.count()
                reduced = plan("mapreduce.reduce_stage", mr.reduce_stage, kept, qa, cfg).persist()
                n_reduced = reduced.count()
            with stage("sinks.write_answers"):
                answers = plan("mapreduce.answers_with_errors", mr.answers_with_errors,
                               qa, qa_docs, reduced, mapped)
                answers_dir = save_results(answers, os.path.join(out, "answers"))
            with stage("llm.judge"):
                written = spark.read.schema(ANSWERS_DDL).json(answers_dir)
                judged = plan("mapreduce.judge_stage", mr.judge_stage, written, cfg).persist()
                n_items = judged.count()
            with stage("sinks.write_judged"):
                judged_dir = save_results(judged, os.path.join(out, "judged"))
        sc = spark.sparkContext
        sc.setJobGroup(f"{op}:counts", "benchmark counts")
        ok = qa_docs.filter(F.col("doc_error").isNull())
        n_texts = ok.count()
        n_unique = ok.select("doc_id").distinct().count()
        errors = (mapped.filter(F.col("error").isNotNull()).count()
                  + reduced.filter(F.col("error").isNotNull()).count()
                  + judged.filter(F.col("judgment") == "Error").count())
        prompts = [cfg.map_template % (r.question, r.chunk_text)
                   for r in chunks.select("question", "chunk_text").collect()]
        sc.setJobGroup("", "")

        h = rest.harvest(stage.groups)
        g = lambda name: h[f"{op}:{name}"]  # noqa: E731
        files, size = _dir_files(answers_dir)
        jfiles, jsize = _dir_files(judged_dir)
        calls_judge = rows_into(g("llm.judge")["sql"], "MapInPandas")
        counts = {
            **spark_totals(h),
            "sources.read_files": node_metric(g("sources.read")["sql"], "Scan text",
                                              "number of files read")
            + node_metric(g("sources.read")["sql"], "Scan json", "number of files read"),
            "sources.read_mb": stage_sum(g("sources.read")["stages"], "inputBytes") / 2**20,
            "sources.read_tasks": stage_sum(g("sources.read")["stages"], "numCompleteTasks"),
            "functions.chunk_python_s": node_metric(g("functions.chunk")["sql"],
                                                    "ArrowEvalPython",
                                                    "time to run Python workers"),
            "functions.chunk_texts": n_texts,
            "functions.chunk_mb": node_metric(g("functions.chunk")["sql"], "ArrowEvalPython",
                                              "data returned from Python workers") / 2**20,
            "functions.chunks": n_chunks,
            "functions.chunk_unique_frac": n_unique / n_texts if n_texts else 0.0,
            "llm.map_calls": n_mapped,
            "llm.map_to_python_mb": node_metric(g("llm.map")["sql"], "MapInPandas",
                                                "data sent to Python workers") / 2**20,
            "llm.map_python_s": node_metric(g("llm.map")["sql"], "MapInPandas",
                                            "time to run Python workers"),
            "llm.map_kept_frac": n_kept / n_mapped if n_mapped else 0.0,
            "llm.reduce_calls": n_reduced,
            "llm.reduce_python_s": node_metric(g("llm.reduce")["sql"], "MapInPandas",
                                               "time to run Python workers"),
            "llm.judge_calls": calls_judge,
            "llm.judge_items_per_call": n_items / calls_judge if calls_judge else 0.0,
            "llm.judge_python_s": node_metric(g("llm.judge")["sql"], "MapInPandas",
                                              "time to run Python workers"),
            "llm.error_rows": errors,
            "llm.client_us_per_call": client_us_per_call(prompts, "map"),
            "plans.reduce_shuffle_mb": stage_sum(g("llm.reduce")["stages"],
                                                 "shuffleWriteBytes") / 2**20,
            "plans.judge_shuffle_mb": stage_sum(g("llm.judge")["stages"],
                                                "shuffleWriteBytes") / 2**20,
            "sinks.write_files": files + jfiles,
            "sinks.write_mb": (size + jsize) / 2**20,
            "storage.peak_mb": max(stage.storage),
        }
        return (answers_dir, judged_dir), counts


def client_us_per_call(prompts: list[str], kind: str) -> float:
    """Replay prompts through the production client stack (limiter,
    retry wrapper, MockLLM) on the driver; microseconds per call."""
    import asyncio

    from finmapreduce_spark.llm.runner import mock_client_factory

    if not prompts:
        return 0.0
    client = mock_client_factory()

    async def replay():
        for p in prompts:
            await client.acomplete(p, kind=kind)

    t0 = time.perf_counter()
    asyncio.run(replay())
    return (time.perf_counter() - t0) / len(prompts) * 1e6


class AnswerServe:
    """``answer_serve``: one client, closed loop, ``POST /answer`` in
    path mode against the server's default config."""

    def __init__(self, name: str, inputs: str, work: str):
        self.name = name
        self.inputs = inputs
        with open(os.path.join(inputs, "requests.json")) as f:
            self.requests = json.load(f)
        self.server = None
        self.thread = None

    def request(self, k: int) -> dict:
        return self.requests[k % len(self.requests)]

    def expected(self) -> dict:
        from finmapreduce_spark.plans.mapreduce import MapReduceConfig

        cfg = MapReduceConfig()
        ref = reference.QAReference(
            chunk_size=cfg.chunk_size, chunk_overlap=cfg.chunk_overlap,
            map_template=cfg.map_template, reduce_template=cfg.reduce_template,
            score_threshold=cfg.score_threshold)
        out = {}
        for r in self.requests:
            with open(os.path.join(self.inputs, r["path"]), encoding="utf-8") as f:
                out[r["path"]] = ref.answer(r["question"], f.read())
        return out

    def check(self, expected: dict, result: tuple[int, dict, dict]) -> tuple[int, int, list[str]]:
        status, req, body = result
        if status != 200:
            return 1, 1, [f"{req['path']}: HTTP {status} {body}"]
        failed = int(bool(body.get("error")) and body["error"] not in PLANTED)
        problems = reference.serve_mismatches(expected[req["path"]], body)
        return 1, failed, [f"{req['path']}: {p}" for p in problems]

    def start(self, spark) -> None:
        from finmapreduce_spark import http_api

        self.server = http_api.make_server(spark, port=0, doc_root=self.inputs)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        status, _ = self._call("GET", "/health", None)
        if status != 200:
            raise RuntimeError(f"/health answered {status}")

    def stop(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
            self.server = None

    def cleanup(self, k) -> None:
        pass

    def _call(self, method: str, path: str, body: dict | None) -> tuple[int, dict]:
        conn = http.client.HTTPConnection(*self.server.server_address[:2], timeout=170)
        try:
            conn.request(method, path, body=json.dumps(body) if body else None,
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read() or b"{}")
        finally:
            conn.close()

    def op(self, spark, k) -> tuple[int, dict, dict]:
        req = self.request(k)
        status, body = self._call("POST", "/answer", req)
        return status, req, body

    def traced_op(self, spark, k, tracer, rest):
        """One request with a span on the client and one around
        ``serve.answer_single`` inside the handler, whose Spark jobs run
        under the request's job group."""
        from finmapreduce_spark import http_api

        op = f"{self.name}-{k}"
        group = f"{op}:serve.answer_single"
        inner = http_api.answer_single
        timing = {}

        def traced_answer(spark_, *args, **kw):
            spark_.sparkContext.setJobGroup(group, "answer_single")
            timing["start"] = time.perf_counter()
            try:
                return inner(spark_, *args, **kw)
            finally:
                timing["end"] = time.perf_counter()
                spark_.sparkContext.setJobGroup("", "")

        with patched((http_api, "answer_single", traced_answer)):
            with tracer.span("http_api.request", op, kind="op") as root:
                result = self.op(spark, k)
        if "end" in timing:
            tracer.add("serve.answer_single", op, timing["start"], timing["end"],
                       root["id"])
        h = rest.harvest({group})
        jobs = h[group]["jobs"]
        job_s = _jobs_busy_seconds(jobs)
        answer_s = timing.get("end", 0.0) - timing.get("start", 0.0)
        wall = root["end"] - root["start"]
        counts = {
            **spark_totals(h),
            "serve.answer_ms": answer_s * 1e3,
            "http_api.overhead_ms": (wall - answer_s) * 1e3,
            "serve.jobs_per_request": len(jobs),
            "serve.stages_per_request": len(h[group]["stages"]),
            "serve.tasks_per_request": stage_sum(h[group]["stages"], "numCompleteTasks"),
            "functions.chunk_python_s": node_metric(h[group]["sql"], "ArrowEvalPython",
                                                    "time to run Python workers"),
            "plans.plan_ms": max(answer_s - job_s, 0.0) * 1e3,
            "storage.peak_mb": rest.storage_mb(),
        }
        return result, counts


def _jobs_busy_seconds(jobs: list[dict]) -> float:
    """Time covered by at least one of the jobs (AQE runs query stages
    as concurrent jobs, so their walls overlap); REST timestamps have
    millisecond resolution."""
    from datetime import datetime

    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    spans = []
    for j in jobs:
        try:
            spans.append((datetime.strptime(j["submissionTime"], fmt).timestamp(),
                          datetime.strptime(j["completionTime"], fmt).timestamp()))
        except (KeyError, ValueError):  # a job without both timestamps
            continue
    busy, end = 0.0, float("-inf")
    for t0, t1 in sorted(spans):
        if t1 > end:
            busy += t1 - max(t0, end)
            end = t1
    return busy


class CurateCorpus:
    """``curate_corpus``: one job = ``curate.run`` over the generated
    corpus, writing the four parquet artifacts."""

    def __init__(self, name: str, inputs: str, work: str):
        self.name = name
        self.corpus = os.path.join(inputs, "corpus")
        self.jobs_dir = os.path.join(work, "jobs")

    def expected(self) -> dict:
        return reference.curation_expected(self.corpus)

    def check(self, expected: dict, result: tuple[str, dict]) -> tuple[int, int, list[str]]:
        out, summary = result
        return 1, 0, reference.curation_mismatches(expected, out, summary)

    def start(self, spark) -> None:
        os.makedirs(self.jobs_dir, exist_ok=True)

    def stop(self) -> None:
        pass

    def cleanup(self, k) -> None:
        shutil.rmtree(os.path.join(self.jobs_dir, str(k)), ignore_errors=True)

    def op(self, spark, k) -> tuple[str, dict]:
        from finmapreduce_spark import curate

        out = os.path.join(self.jobs_dir, str(k))
        return out, curate.run(spark, self.corpus, out)

    def traced_op(self, spark, k, tracer, rest) -> tuple[tuple[str, dict], dict]:
        """``curate.run`` with spans at the public calls it makes: the
        frame builder, the length cutoff, the dedup keep-list and its
        connected components (edge lanes materialized first); each
        returned frame is then materialized under its own job group
        before ``curate.run`` writes it."""
        from finmapreduce_spark import curate
        from finmapreduce_spark.queries import dedup, sketches, training

        op = f"{self.name}-{k}"
        out = os.path.join(self.jobs_dir, str(k))
        stage = Stages(spark, tracer, rest, op)
        n_edges = [0]
        real_frames = training.curation_pipeline_frames
        real_cutoff = sketches.qsk_length_cutoff
        real_keep = dedup.dedup_master_keep_list
        real_cc = dedup.connected_components

        def frames(spark_, sf_dir):
            with tracer.span("training.curation_pipeline_frames", op, kind="plan"):
                fr = dict(real_frames(spark_, sf_dir))
            for name, keys in (("curate.clean", ("clean_kept", "clean_unique")),
                               ("curate.survivors", ("survivors",)),
                               ("curate.select", ("selected",)),
                               ("curate.layout", ("layout",)),
                               ("curate.shard", ("sharded",))):
                with stage(name):
                    for key in keys:
                        fr[key] = fr[key].persist()
                        fr[key].count()
            return fr

        def cutoff(*args, **kw):
            with stage("curate.cutoff"):
                got = real_cutoff(*args, **kw).persist()
                got.count()
            return got

        def keep_list(*args, **kw):
            with stage("dedup.keep_list"):
                return real_keep(*args, **kw)

        def components(edges, *args, **kw):
            with stage("dedup.edges"):
                edges = edges.persist()
                n_edges[0] = edges.count()
            with stage("dedup.cc"):
                return real_cc(edges, *args, **kw)

        with patched((training, "curation_pipeline_frames", frames),
                     (sketches, "qsk_length_cutoff", cutoff),
                     (dedup, "dedup_master_keep_list", keep_list),
                     (dedup, "connected_components", components)):
            with tracer.span("job", op, kind="op"):
                with stage("sinks.write"):
                    summary = curate.run(spark, self.corpus, out)
        spark.sparkContext.setJobGroup("", "")

        h = rest.harvest(stage.groups)
        dedup_stages = [s for name in ("dedup.keep_list", "dedup.edges", "dedup.cc")
                        for s in h[f"{op}:{name}"]["stages"]]
        all_sql = [e for g in h.values() for e in g["sql"]]
        all_stages = [s for g in h.values() for s in g["stages"]]
        files, size = _dir_files(out)
        counts = {
            **spark_totals(h),
            "sources.read_files": node_metric(all_sql, "Scan parquet", "number of files read"),
            "sources.read_mb": stage_sum(all_stages, "inputBytes") / 2**20,
            "sources.read_tasks": stage_sum(all_stages, "numCompleteTasks"),
            "dedup.edges_rows": n_edges[0],
            "dedup.shuffle_mb": stage_sum(dedup_stages, "shuffleWriteBytes") / 2**20,
            "dedup.spill_mb": stage_sum(dedup_stages, "diskBytesSpilled") / 2**20,
            "dedup.cc_jobs": len(h[f"{op}:dedup.cc"]["jobs"]),
            "dedup.task_skew": rest.task_skew(dedup_stages),
            "sinks.write_files": files,
            "sinks.write_mb": size / 2**20,
            "storage.peak_mb": max(stage.storage),
        }
        return (out, summary), counts


WORKLOADS = {"qa_longdoc": BatchQA, "answer_serve": AnswerServe,
             "curate_corpus": CurateCorpus}


def make(name: str, inputs: str, work: str):
    return WORKLOADS[name](name, inputs, work)
