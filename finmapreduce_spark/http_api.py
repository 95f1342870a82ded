"""REST serving layer — the webapp surface, stdlib-only.

Reference parity: webapp/backend/main.py:76 (FastAPI app),
endpoints.py:183-304 (single-QA answer), :351-423 (document preview).
No web framework ships in this image, so the endpoint layer is
``http.server.ThreadingHTTPServer`` + JSON bodies; the handlers call
the same library functions (`serve.answer_single`, `serve.preview`)
the reference's endpoints wrap, against ONE shared SparkSession.

Endpoints:
  GET  /health              → {"status": "ok"}
  GET  /models              → provider/model catalog + pipeline knobs
                              (reference endpoints.py:325-348)
  POST /preview             → {"path"} | {"content", "filename"}
                              → doc_name / first-2000-chars / n_chars
  POST /answer              → {"path"|"content"+"filename",
                              "question"} → AnswerResponse dict

Uploads: the reference takes multipart file uploads; here a request
either names a server-visible path or inlines text content, which is
staged to a temp file and fed through the same ``load_upload``
validation (S10/P6 — unsupported extensions are a 400). Path mode is
confined to ``doc_root`` (realpath-prefix check, default cwd) so a
non-loopback bind cannot be used to read arbitrary server files.

Scale posture: single-QA serving is the LATENCY path — one request
is one 1-row DataFrame through the batch DAG. Sustained THROUGHPUT
belongs to streaming/pipeline.py::serve_mapreduce (micro-batched
foreachBatch over a landing directory); this server is the
interactive front door, and a lock serializes engine calls so
concurrent requests queue instead of interleaving Spark actions.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from finmapreduce_spark.llm.prompts import available_prompt_sets
from finmapreduce_spark.plans.mapreduce import MapReduceConfig
from finmapreduce_spark.serve import answer_single, preview


def _stage_upload(body: dict, doc_root: str) -> tuple[str, str | None]:
    """Resolve the request's document to a local path; returns
    (path, temp_dir_to_cleanup | None). Inline content is staged in a
    per-request temp directory UNDER ITS ORIGINAL BASENAME, so the
    engine's extension validation (P6) applies and doc_name reports
    the caller's filename (not a mkstemp alias); utf-8 is forced so a
    C/latin-1 server locale cannot corrupt non-ASCII uploads.

    Path mode is confined to ``doc_root``: the request path must
    realpath-resolve inside it (symlinks followed BEFORE the prefix
    check), so clients cannot name arbitrary server-visible files."""
    if "path" in body:
        root = os.path.realpath(doc_root)
        resolved = os.path.realpath(
            os.path.join(root, os.fspath(body["path"]))
        )
        if resolved != root and not resolved.startswith(root + os.sep):
            raise ValueError("path escapes the configured document root")
        return resolved, None
    if "content" in body:
        name = os.path.basename(body.get("filename") or "upload.txt")
        tmp_dir = tempfile.mkdtemp(prefix="fmr_upload_")
        path = os.path.join(tmp_dir, name)
        with open(path, "w", encoding="utf-8") as f:
            f.write(body["content"])
        return path, tmp_dir
    raise ValueError("request needs 'path' or 'content'")


# Reference endpoints.py:325-348 — the static capability catalog the
# webapp frontend populates its dropdowns from. Model lists mirror the
# reference's published catalog; knob ranges match the CLI surface.
MODELS_CATALOG = {
    "models": {
        "openai": ["gpt-4o-mini", "gpt-4o", "gpt-4-turbo", "gpt-3.5-turbo"],
        "openrouter": [
            "deepseek/deepseek-r1-0528:free",
            "anthropic/claude-3-haiku",
            "meta-llama/llama-3.1-8b-instruct:free",
        ],
    },
    "pipeline_types": ["mapreduce", "truncation"],
    "format_types": ["json", "hybrid", "plain_text"],
    # Derived from the registry so the catalog can't drift from
    # load_prompt_set's actual validation surface.
    "prompt_sets": available_prompt_sets(),
    "truncation_strategies": ["start", "end", "smart"],
    "pdf_parsers": ["marker", "pypdf", "pdfminer"],
    "providers": ["openai", "openrouter"],
    "temperature_range": {"min": 0.0, "max": 2.0, "step": 0.1},
    "chunk_size_range": {"min": 1000, "max": 100000, "step": 1000},
    "score_threshold_range": {"min": 1, "max": 100, "step": 1},
}


def _request_config(cfg: MapReduceConfig, body: dict):
    """Per-request pipeline selection, validated against the catalog
    (reference endpoints.py:62,148,192: each request may choose
    pipeline_type + format_type or strategy and the numeric knobs).
    Returns (MapReduceConfig, approach, strategy, max_doc_tokens,
    pdf_parser)."""
    import dataclasses

    approach = body.get("pipeline_type", "mapreduce")
    if approach not in MODELS_CATALOG["pipeline_types"]:
        raise ValueError(f"unknown pipeline_type {approach!r}")
    strategy = body.get("strategy", "start")
    if strategy not in MODELS_CATALOG["truncation_strategies"]:
        raise ValueError(f"unknown strategy {strategy!r}")
    overrides: dict = {}
    if "format_type" in body or "prompt_set" in body:
        from finmapreduce_spark.llm.prompts import (
            auto_prompt_set,
            prompt_config,
        )

        fmt = body.get("format_type")
        if fmt is not None:
            if fmt not in MODELS_CATALOG["format_types"]:
                raise ValueError(f"unknown format_type {fmt!r}")
            overrides["format_type"] = fmt
            if "score_threshold" not in body:
                overrides["score_threshold"] = 50 if fmt == "plain_text" else 5
        # prompt_set applies on its own too (default auto-detects from
        # the format, exactly as the CLI); unknown names → 400 either
        # way. Presence check, not truthiness: an explicit empty
        # string is an invalid NAME and must 400, not silently
        # auto-detect.
        named = body.get("prompt_set")
        set_name = named if named is not None else auto_prompt_set(fmt)
        overrides.update(prompt_config(set_name))
    # Per-request provider/model selection (reference endpoints.py:
    # 62-124 builds the LLM per request from the posted model config).
    # "mock" is accepted for hermetic serving; live providers resolve
    # credentials executor-side at call time, so a missing key
    # surfaces as the row's error field, not a server crash.
    provider = body.get("provider")
    temp = body.get("temperature")
    if temp is not None:
        # validated whenever posted (not only on the live branch —
        # a silently-dropped knob reads as applied); non-numeric
        # values are a 400, not a 500
        try:
            temp = float(temp)
        except (TypeError, ValueError):
            raise ValueError(f"temperature must be a number: {temp!r}")
        rng = MODELS_CATALOG["temperature_range"]
        if not rng["min"] <= temp <= rng["max"]:
            raise ValueError(f"temperature out of range: {temp}")
        if provider is None:
            raise ValueError("'temperature' requires 'provider'")
    if provider is not None:
        if provider not in ("mock", *MODELS_CATALOG["providers"]):
            raise ValueError(f"unknown provider {provider!r}")
        model = body.get("model")
        if provider == "mock":
            # model/temperature cannot apply to the mock — a silently
            # dropped knob reads as applied, so both 400
            if "model" in body:
                raise ValueError("'model' is not applicable to provider 'mock'")
            if temp is not None:
                raise ValueError(
                    "'temperature' is not applicable to provider 'mock'"
                )
        elif model is not None and model not in MODELS_CATALOG["models"].get(
            provider, []
        ):
            # the reference webapp restricts to its published catalog
            # (endpoints.py:325-348); custom endpoints use
            # OPENAI_MODEL/OPENAI_BASE_URL server-side
            raise ValueError(f"unknown model {model!r} for provider {provider!r}")
        from finmapreduce_spark.llm.runner import client_for

        factory, namespace = client_for(provider, model=model, temperature=temp)
        overrides["client_factory"] = factory
        overrides["response_cache_namespace"] = namespace
    elif "model" in body:
        raise ValueError("'model' requires 'provider'")
    for knob in ("score_threshold", "chunk_size", "chunk_overlap"):
        if knob in body:
            overrides[knob] = int(body[knob])
    if "max_concurrent_chunks" in body:
        overrides["concurrency"] = max(1, int(body["max_concurrent_chunks"]))
    req_cfg = dataclasses.replace(cfg, **overrides) if overrides else cfg
    # truncation budget precedence (reference endpoints.py:192 +
    # truncation_utils F6): explicit max_document_tokens wins; else
    # context_window/buffer compute max(1000, cw − question − buffer).
    if "max_document_tokens" in body or "max_doc_tokens" in body:
        max_toks = int(body.get("max_document_tokens", body.get("max_doc_tokens")))
    elif "context_window" in body:
        q_tokens = len(str(body.get("question", "")).split())
        max_toks = max(
            1000,
            int(body["context_window"]) - q_tokens - int(body.get("buffer", 2000)),
        )
    else:
        max_toks = 8192
    pdf_parser = body.get("pdf_parser", "auto")
    if pdf_parser not in ("auto", "fake", *MODELS_CATALOG["pdf_parsers"]):
        raise ValueError(f"unknown pdf_parser {pdf_parser!r}")
    return req_cfg, approach, strategy, max_toks, pdf_parser


def make_server(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 0,
    cfg: MapReduceConfig | None = None,
    doc_root: str | None = None,
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; port=0 picks an ephemeral
    port (read it back from ``server.server_address[1]``)."""
    cfg = cfg or MapReduceConfig()
    doc_root = doc_root or os.getcwd()
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet: no stderr spam
            pass

        def _send(self, code: int, payload: dict):
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 — http.server contract
            if self.path == "/health":
                self._send(200, {"status": "ok"})
            elif self.path == "/models":
                self._send(200, MODELS_CATALOG)
            elif self.path in ("/", "/index.html"):
                # the single-file frontend (webapp/index.html) — the
                # rebuild's twin of the reference webapp's
                # frontend/index.html + static/app.js surface
                page = os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "webapp", "index.html",
                )
                try:
                    with open(page, "rb") as f:
                        body = f.read()
                except OSError as e:  # py-only deploys: JSON 404,
                    self._send(404, {"error": f"frontend unavailable: {e}"})
                    return  # not a dropped connection
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self._send(404, {"error": f"no route {self.path}"})

        def do_POST(self):  # noqa: N802
            n = int(self.headers.get("Content-Length") or 0)
            try:
                body = json.loads(self.rfile.read(n) or b"{}")
            except json.JSONDecodeError:
                self._send(400, {"error": "invalid JSON body"})
                return
            tmp_dir = None
            try:
                # Compute under the lock, send OUTSIDE it: the lock
                # only serializes Spark actions — holding it through
                # the socket write would let one stalled client block
                # every other request after the engine went idle.
                if self.path == "/preview":
                    path, tmp_dir = _stage_upload(body, doc_root)
                    with lock:
                        payload = preview(
                            spark, path,
                            pdf_parser=body.get("pdf_parser", "auto"),
                        )
                elif self.path == "/answer":
                    question = body.get("question")
                    if not question:
                        raise ValueError("request needs 'question'")
                    path, tmp_dir = _stage_upload(body, doc_root)
                    (req_cfg, approach, strategy, max_toks,
                     pdf_parser) = _request_config(cfg, body)
                    with lock:
                        payload = answer_single(
                            spark, path, question, req_cfg,
                            approach=approach, strategy=strategy,
                            max_doc_tokens=max_toks, pdf_parser=pdf_parser,
                        )
                else:
                    self._send(404, {"error": f"no route {self.path}"})
                    return
                self._send(200, payload)
            except (ValueError, FileNotFoundError) as e:
                self._send(400, {"error": str(e)})
            except Exception as e:  # noqa: BLE001 — 500, keep serving
                self._send(500, {"error": f"{type(e).__name__}: {e}"})
            finally:
                if tmp_dir:
                    import shutil

                    shutil.rmtree(tmp_dir, ignore_errors=True)

    return ThreadingHTTPServer((host, port), Handler)


def serve_http(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 8008,
    cfg: MapReduceConfig | None = None,
    doc_root: str | None = None,
) -> None:
    """Blocking entrypoint (CLI `serve-http`)."""
    server = make_server(spark, host, port, cfg, doc_root)
    try:
        server.serve_forever()
    finally:
        server.server_close()


def main(argv=None) -> None:  # pragma: no cover - thin shell
    import argparse

    from finmapreduce_spark.session import get_spark

    ap = argparse.ArgumentParser(prog="python -m finmapreduce_spark.http_api")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8008)
    ap.add_argument("--doc_root", default=None,
                    help="directory path-mode requests are confined to "
                         "(default: cwd)")
    args = ap.parse_args(argv)
    serve_http(get_spark("serve_http"), args.host, args.port,
               doc_root=args.doc_root)


if __name__ == "__main__":  # pragma: no cover
    main()
