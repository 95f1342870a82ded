"""Single-QA serving API (§3.2 webapp parity)."""

from __future__ import annotations

import pytest

from finmapreduce_spark.plans.mapreduce import MapReduceConfig
from finmapreduce_spark.serve import PREVIEW_CHARS, answer_single, preview


@pytest.fixture()
def doc_file(tmp_path):
    p = tmp_path / "report.md"
    p.write_text("Quarterly revenue rose twelve percent on cloud growth. " * 50)
    return str(p)


def test_answer_single(spark, doc_file):
    out = answer_single(
        spark,
        doc_file,
        "How much did revenue rise?",
        cfg=MapReduceConfig(chunk_size=256, chunk_overlap=32),
    )
    assert out["error"] is None
    assert out["answer"] and isinstance(out["answer"], str)
    assert out["n_chunks"] > 1
    assert out["input_tokens"] > 0


def test_answer_single_empty_doc(spark, tmp_path):
    p = tmp_path / "empty.md"
    p.write_text("   ")
    out = answer_single(spark, str(p), "Anything?")
    assert out["error"] == "empty document"
    assert out["answer"] is None


def test_preview(spark, doc_file):
    out = preview(spark, doc_file)
    assert out["doc_name"] == "report.md"
    assert len(out["preview"]) == PREVIEW_CHARS
    assert out["n_chars"] > PREVIEW_CHARS


def test_http_api_endpoints(spark, monkeypatch):
    """Live REST server on an ephemeral port: health, preview and
    answer round-trips (MockLLM engine underneath), plus the 400/404
    error contract."""
    # Pin the legacy word/char model: these fixtures' mock-LLM scores
    # (md5 of the chunk prompt) were tuned to char-window chunk
    # boundaries; the serving surface itself follows the engine's
    # tokenizer-exact default, which pipeline_e2e_answers_bpe
    # certifies against an exact oracle.
    monkeypatch.setenv("FMR_TOKEN_MODEL", "words")
    import json
    import threading
    import urllib.error
    import urllib.request

    from finmapreduce_spark.http_api import make_server

    server = make_server(spark, port=0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"

    def post(route, payload):
        req = urllib.request.Request(
            base + route,
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())

    try:
        with urllib.request.urlopen(base + "/health", timeout=10) as r:
            assert json.loads(r.read()) == {"status": "ok"}

        body = "Revenue grew fifteen percent year over year. " * 40
        body += "café naïve 十五"  # non-ASCII must survive any locale
        status, prev = post(
            "/preview", {"content": body, "filename": "report.txt"}
        )
        assert status == 200
        assert prev["n_chars"] == len(body)
        assert prev["preview"] == body[:2000]
        assert prev["doc_name"] == "report.txt"  # caller's name, not a temp alias

        status, ans = post(
            "/answer",
            {"content": body, "filename": "report.txt",
             "question": "How much did revenue grow?"},
        )
        assert status == 200
        assert ans["error"] is None
        assert ans["answer"]
        assert ans["n_chunks"] >= 1

        # P6: unsupported extension → 400, engine validation intact
        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/answer", {"content": "x", "filename": "bad.exe",
                             "question": "q?"})
        assert ei.value.code == 400

        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/answer", {"content": "x", "filename": "a.txt"})
        assert ei.value.code == 400  # missing question

        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/nope", {})
        assert ei.value.code == 404
    finally:
        server.shutdown()
        server.server_close()


def test_http_models_catalog_and_path_containment(spark, tmp_path):
    """GET /models returns the capability catalog (reference
    endpoints.py:325-348); path-mode requests are confined to
    doc_root — inside resolves, escapes (absolute or ../) are 400."""
    import json
    import threading
    import urllib.error
    import urllib.request

    from finmapreduce_spark.http_api import MODELS_CATALOG, make_server

    root = tmp_path / "docs"
    root.mkdir()
    (root / "inside.txt").write_text("Revenue grew ten percent. " * 30)
    secret = tmp_path / "secret.txt"
    secret.write_text("not served")

    server = make_server(spark, port=0, doc_root=str(root))
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"

    def post(route, payload):
        req = urllib.request.Request(
            base + route,
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())

    try:
        with urllib.request.urlopen(base + "/models", timeout=10) as r:
            cat = json.loads(r.read())
        assert cat == MODELS_CATALOG
        assert set(cat["providers"]) == {"openai", "openrouter"}
        assert "mapreduce" in cat["pipeline_types"]
        # the six reference prompt sets are advertised for dropdowns —
        # and the catalog entry derives from the registry, so this
        # pins BOTH against the reference list
        from finmapreduce_spark.llm.prompts import available_prompt_sets

        assert cat["prompt_sets"] == available_prompt_sets()
        assert set(cat["prompt_sets"]) == {
            "default", "baseline", "standard", "hybrid", "direct", "finqa",
        }

        # GET / serves the single-file frontend (reference webapp
        # frontend surface): html that drives /models + /preview +
        # /answer, including the prompt_set dropdown
        req = urllib.request.Request(base + "/")
        with urllib.request.urlopen(req, timeout=10) as r:
            assert r.status == 200
            assert r.headers["Content-Type"].startswith("text/html")
            page = r.read().decode()
        for needle in ("prompt_set", "/models", "/preview", "/answer",
                       "pipeline_type"):
            assert needle in page, needle

        # relative path inside the root: allowed
        status, prev = post("/preview", {"path": "inside.txt"})
        assert status == 200 and prev["doc_name"] == "inside.txt"
        # absolute path inside the root: allowed
        status, _ = post("/preview", {"path": str(root / "inside.txt")})
        assert status == 200

        # escapes: absolute outside, ../ traversal → 400
        for bad in (str(secret), "../secret.txt"):
            with pytest.raises(urllib.error.HTTPError) as ei:
                post("/preview", {"path": bad})
            assert ei.value.code == 400
    finally:
        server.shutdown()
        server.server_close()


def test_http_per_request_pipeline_config(spark):
    """Per-request pipeline selection (reference endpoints.py:62): the
    same server answers mapreduce/json, mapreduce/plain_text (50
    threshold → everything filtered → no answer), and truncation with
    a strategy — and 400s unknown registry values."""
    import json
    import threading
    import urllib.error
    import urllib.request

    from finmapreduce_spark.http_api import make_server

    server = make_server(spark, port=0)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"

    def post(route, payload):
        req = urllib.request.Request(
            base + route,
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())

    # long doc → ~20 chunks: the mock's per-chunk score is md5-derived
    # (P(score>5) = 5/11), so a short doc can legitimately filter ALL
    # chunks; 20 chunks make that a ~5e-6 event instead of ~8%
    body = "Revenue grew fifteen percent year over year. " * 200
    try:
        # json format: struct-filter path end to end
        status, ans = post("/answer", {
            "content": body, "filename": "r.txt",
            "question": "How much did revenue grow?",
            "format_type": "json",
        })
        assert status == 200 and ans["error"] is None and ans["answer"]

        # plain_text: 0-100 scores (map_plain mock), strict > 50 —
        # ~half the chunks keep, so with 20 chunks an answer emerges
        # while the filter provably dropped some
        status, ans = post("/answer", {
            "content": body, "filename": "r.txt",
            "question": "How much did revenue grow?",
            "format_type": "plain_text",
        })
        assert status == 200 and ans["error"] is None
        assert 0 < ans["n_kept"] < ans["n_chunks"]
        assert ans["answer"]

        # truncation pipeline with an end strategy
        status, ans = post("/answer", {
            "content": body, "filename": "r.txt",
            "question": "How much did revenue grow?",
            "pipeline_type": "truncation", "strategy": "end",
            "max_doc_tokens": 50,
        })
        assert status == 200 and ans["answer"]
        assert ans["trunc_applied"] is True

        # registry validation → 400
        for bad in (
            {"pipeline_type": "nope"},
            {"format_type": "xml"},
            {"pipeline_type": "truncation", "strategy": "middle"},
        ):
            with pytest.raises(urllib.error.HTTPError) as ei:
                post("/answer", {"content": body, "filename": "r.txt",
                                 "question": "q?", **bad})
            assert ei.value.code == 400
    finally:
        server.shutdown()
        server.server_close()


def test_answer_single_returns_evidence(spark, doc_file):
    """The reduce stage's evidence list must reach the serving payload
    (reference parse_final_result returns llm_evidence; it was being
    dropped by the answers projection)."""
    import json as _json

    out = answer_single(spark, doc_file, "What grew?")
    assert out["evidence"] is not None
    assert isinstance(_json.loads(out["evidence"]), list)


def test_http_truncation_budget_from_context_window(spark, monkeypatch):
    """context_window/buffer compute the F6 budget per request:
    max(1000, cw − question_tokens − buffer). A small window forces
    the 1000 floor; the long doc then truncates. Word model pinned:
    the 1500-word fixture arithmetic is word-budget arithmetic."""
    monkeypatch.setenv("FMR_TOKEN_MODEL", "words")
    import json
    import threading
    import urllib.request

    from finmapreduce_spark.http_api import make_server

    server = make_server(spark, port=0)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"

    def post(route, payload):
        req = urllib.request.Request(
            base + route, data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"}, method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())

    body = "alpha beta gamma delta epsilon " * 300  # 1500 words
    try:
        status, ans = post("/answer", {
            "content": body, "filename": "r.txt", "question": "What is this?",
            "pipeline_type": "truncation",
            "context_window": 1200, "buffer": 150,  # → floor 1000 < 1500
        })
        assert status == 200 and ans["answer"]
        assert ans["trunc_applied"] is True  # 1500 words > 1000 budget
        # explicit max_document_tokens overrides the window calc
        status, ans = post("/answer", {
            "content": body, "filename": "r.txt", "question": "What is this?",
            "pipeline_type": "truncation",
            "context_window": 1200, "max_document_tokens": 5000,
        })
        assert status == 200
        assert ans["trunc_applied"] is False  # 1500 < 5000
    finally:
        server.shutdown()
        server.server_close()


def test_answer_single_response_structure(spark, doc_file):
    """Reference AnswerResponse parity: token_stats / timing_stats /
    chunk_stats / request_id ride alongside the flat keys."""
    out = answer_single(spark, doc_file, "What grew?")
    assert out["token_stats"]["input_tokens"] == out["input_tokens"]
    assert out["timing_stats"]["total_time"] > 0
    assert out["chunk_stats"]["total_chunks"] == out["n_chunks"]
    assert out["chunk_stats"]["chunks_after_filtering"] == out["n_kept"]
    assert len(out["request_id"]) == 32


def test_pdf_upload_routes_through_parser_chain(spark, tmp_path):
    """A .pdf upload goes through the S4/S5 parser chain (pdf_parser
    knob), not a raw utf-8 decode: with no real parser installed the
    printable-text fallback extracts the text layer, and the pipeline
    answers."""
    p = tmp_path / "report.pdf"
    body = "Margin expanded two hundred basis points. " * 80
    p.write_bytes(b"%PDF-1.4\n\x00\x01" + body.encode() + b"\xff\xfe")
    prev = preview(spark, str(p))
    assert "Margin expanded" in prev["preview"]
    assert "\x00" not in prev["preview"]  # binary bytes stripped, not mojibake
    out = answer_single(spark, str(p), "What expanded?")
    assert out["error"] is None and out["answer"]


def test_truncation_serving_uses_configured_client(spark, doc_file, tmp_path):
    """The serving cfg's client_factory must reach the truncation DAG
    (it was silently replaced by the default mock): a counting client
    observes the truncation request's LLM call."""
    import functools

    from tests.test_response_cache import _count_calls, counting_factory

    calls = str(tmp_path / "calls.log")
    cfg = MapReduceConfig(
        client_factory=functools.partial(counting_factory, calls)
    )
    out = answer_single(spark, doc_file, "What rose?", cfg=cfg,
                        approach="truncation", max_doc_tokens=50)
    assert out["answer"]
    assert _count_calls(calls) == 1  # the one truncation call, counted


def test_http_prompt_set_without_format_type(spark):
    """prompt_set applies (and validates) on its own — a bad name must
    400 even when format_type is absent."""
    import json
    import threading
    import urllib.error
    import urllib.request

    from finmapreduce_spark.http_api import make_server

    server = make_server(spark, port=0)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"

    def post(route, payload):
        req = urllib.request.Request(
            base + route, data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"}, method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())

    body = "Revenue grew fifteen percent. " * 100
    try:
        status, ans = post("/answer", {
            "content": body, "filename": "r.txt", "question": "q?",
            "prompt_set": "plain_text",  # legacy alias, no format_type
        })
        assert status == 200
        # named reference sets resolve per-request (prompt_config.yml)
        status, ans = post("/answer", {
            "content": body, "filename": "r.txt", "question": "q?",
            "prompt_set": "finqa",
        })
        assert status == 200
        status, ans = post("/answer", {
            "content": body, "filename": "r.txt", "question": "q?",
            "prompt_set": "direct",
        })
        assert status == 200
        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/answer", {"content": body, "filename": "r.txt",
                             "question": "q?", "prompt_set": "nope"})
        assert ei.value.code == 400
        # an explicit EMPTY name is an invalid name, not "absent" —
        # it must 400 like any other unknown set, never silently
        # auto-detect (ADVICE r8)
        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/answer", {"content": body, "filename": "r.txt",
                             "question": "q?", "prompt_set": ""})
        assert ei.value.code == 400

        # per-request provider/model (round-9 review #3: the frontend
        # dropdowns must actually steer the request). Selecting a
        # LIVE provider in a keyless environment must visibly fail in
        # the row's error field — proof the posted provider replaced
        # the server's default mock factory.
        import os as _os
        if not _os.environ.get("OPENAI_API_KEY"):
            status, ans = post("/answer", {
                "content": body, "filename": "r.txt", "question": "q?",
                "provider": "openai", "model": "gpt-4o-mini",
            })
            assert status == 200
            assert ans.get("answer") in (None, "")
            # all map calls fail on the missing key → the answer row
            # carries the ACTUAL failure (the per-QA map-error
            # digest), not a misleading relevance-filter label
            assert ans["chunk_stats"]["chunks_after_filtering"] == 0
            err = ans.get("error") or ""
            assert "map calls failed" in err and "API key" in err
        # explicit mock provider keeps working end to end
        status, ans = post("/answer", {
            "content": body, "filename": "r.txt", "question": "q?",
            "provider": "mock",
        })
        assert status == 200 and ans["answer"]
        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/answer", {"content": body, "filename": "r.txt",
                             "question": "q?", "provider": "bogus"})
        assert ei.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/answer", {"content": body, "filename": "r.txt",
                             "question": "q?", "model": "gpt-4o-mini"})
        assert ei.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/answer", {"content": body, "filename": "r.txt",
                             "question": "q?", "provider": "openai",
                             "temperature": 99})
        assert ei.value.code == 400
        # temperature is validated whenever posted: without a
        # provider it cannot apply, so it 400s instead of silently
        # dropping; non-numeric values 400 rather than 500
        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/answer", {"content": body, "filename": "r.txt",
                             "question": "q?", "temperature": 0.5})
        assert ei.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/answer", {"content": body, "filename": "r.txt",
                             "question": "q?", "provider": "openai",
                             "temperature": [1]})
        assert ei.value.code == 400
        # model names are validated against the published catalog
        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/answer", {"content": body, "filename": "r.txt",
                             "question": "q?", "provider": "openai",
                             "model": "gpt-4o-minni"})
        assert ei.value.code == 400
        # explicitly requested parser that is not installed → 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            post("/answer", {"content": body, "filename": "r.pdf",
                             "question": "q?", "pdf_parser": "pypdf"})
        assert ei.value.code == 400
    finally:
        server.shutdown()
        server.server_close()


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_load_upload_is_one_row_local_relation(spark, doc_file, arrow):
    """The upload row is a one-partition LocalTableScan whose row count
    the optimizer knows, with the Arrow conf on or off (a plain
    SparkSession leaves it off), so the request plan stays one task
    wide."""
    from finmapreduce_spark.sources.readers import load_upload

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        df = load_upload(spark, doc_file, "q?")
        qe = df._jdf.queryExecution()
        assert qe.optimizedPlan().stats().rowCount().get() == 1
        assert "LocalTableScan" in qe.executedPlan().toString()
        assert df.rdd.getNumPartitions() == 1
        assert df.schema.simpleString() == (
            "struct<qa_id:bigint,doc_name:string,question:string,content:string>"
        )
        assert df.collect()[0]["doc_name"] == "report.md"
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("fail", [False, True])
def test_answer_single_releases_its_persists(spark, doc_file, monkeypatch, fail):
    """answer_single's ``finally`` hands back every per-request persist:
    the persistent-RDD count returns to where it was after a good
    request AND after one whose action fails once the LLM stages are
    cached (the HTTP layer catches the error and keeps serving)."""
    from pyspark.sql import functions as F

    from finmapreduce_spark import serve

    jsc = spark.sparkContext._jsc
    pinned = []
    real = serve.run_mapreduce

    def run(qa, docs, cfg):
        stages = real(qa, docs, cfg)
        stages["mapped"].count()  # materialize the cached map output
        pinned.append(jsc.getPersistentRDDs().size())
        if fail:
            stages["answers"] = stages["answers"].withColumn(
                "boom", F.raise_error(F.lit("executor lost"))
            )
        return stages

    monkeypatch.setattr(serve, "run_mapreduce", run)
    before = jsc.getPersistentRDDs().size()
    if fail:
        with pytest.raises(Exception, match="executor lost"):
            answer_single(spark, doc_file, "What grew?")
    else:
        assert answer_single(spark, doc_file, "What grew?")["answer"]
    assert pinned and pinned[0] > before
    assert jsc.getPersistentRDDs().size() == before
