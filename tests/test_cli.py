"""CLI batch entry (§3.1 parity): end-to-end run over a tiny
FinanceBench-style fixture with the mock LLM."""

from __future__ import annotations

import json
import os

import pytest

from finmapreduce_spark.cli import run


@pytest.fixture()
def fixture_dirs(tmp_path):
    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "acme_2023.md").write_text(
        "Acme revenue grew nine percent in fiscal 2023. " * 40
    )
    (docs / "beta_2022.md").write_text("Beta filed a 10-K. " * 40)
    qa_path = tmp_path / "qa.jsonl"
    rows = [
        {
            "financebench_id": "q1",
            "doc_name": "acme_2023",
            "question": "What was revenue growth?",
            "answer": "nine percent",
            "justification": None,
            "evidence": [{"evidence_text": "revenue grew nine percent"}],
            "question_type": "metrics-generated",
            "question_reasoning": None,
        },
        {
            "financebench_id": "q2",
            "doc_name": "beta_2022",
            "question": "What did Beta file?",
            "answer": "a 10-K",
            "justification": "filed annually",
            "evidence": [],
            "question_type": "domain-relevant",
            "question_reasoning": "recall",
        },
        {
            "financebench_id": "q3",
            "doc_name": "missing_doc",
            "question": "Where is this?",
            "answer": "nowhere",
            "justification": None,
            "evidence": [],
            "question_type": "novel-generated",
            "question_reasoning": None,
        },
    ]
    with open(qa_path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(qa_path), str(docs), str(tmp_path / "out")


@pytest.mark.parametrize("approach", ["mapreduce", "truncation"])
def test_cli_end_to_end(spark, fixture_dirs, approach):
    qa_path, docs_dir, out_root = fixture_dirs
    out_dir = run(
        [
            "--dataset", "financebench",
            "--approach", approach,
            "--format_type", "hybrid",
            "--data_path", qa_path,
            "--docs_glob", docs_dir,
            "--output_dir", out_root,
            "--chunk_size", "256",
            "--chunk_overlap", "32",
        ],
        spark=spark,
    )
    assert os.path.isdir(out_dir)
    rows = [
        json.loads(l)
        for p in os.listdir(out_dir)
        if p.startswith("part-") and p.endswith(".json")
        for l in open(os.path.join(out_dir, p))
    ]
    summary = json.load(open(os.path.join(out_dir, "_summary.json")))
    if approach == "mapreduce":
        assert len(rows) == 3  # error row for missing_doc included
        assert any(r.get("doc_error") == "document not found" for r in rows)
    else:
        assert len(rows) >= 2
    assert summary["config"]["approach"] == approach
    assert summary["stats"]["n_rows"] == len(rows)


def test_cli_rejects_bad_registry_values(spark, fixture_dirs):
    qa_path, docs_dir, out_root = fixture_dirs
    with pytest.raises(SystemExit):
        run(["--dataset", "unknown", "--data_path", qa_path,
             "--docs_glob", docs_dir], spark=spark)


def test_cli_rejects_unknown_prompt_set(spark, fixture_dirs):
    """Validation parity with the reference loader
    (document_processing.py:580-582): an unknown --prompt_set name
    errors before any Spark work."""
    qa_path, docs_dir, out_root = fixture_dirs
    with pytest.raises(ValueError, match="unknown prompt set"):
        run(["--dataset", "financebench", "--data_path", qa_path,
             "--docs_glob", docs_dir, "--output_dir", out_root,
             "--prompt_set", "bogus"], spark=spark)


@pytest.mark.parametrize("prompt_set,format_type", [
    ("baseline", "plain_text"),  # the reference's plain-text pairing
    ("finqa", "hybrid"),
    ("direct", "hybrid"),        # single-prompt: map == reduce template
    ("standard", "json"),
])
def test_cli_named_prompt_sets_end_to_end(
    spark, fixture_dirs, prompt_set, format_type
):
    """Every named reference set drives a full mapreduce run; the
    resolved set name is recorded in the results config, as the
    reference does (base_pipeline.py:430)."""
    qa_path, docs_dir, out_root = fixture_dirs
    out_dir = run(
        [
            "--dataset", "financebench",
            "--approach", "mapreduce",
            "--format_type", format_type,
            "--prompt_set", prompt_set,
            "--data_path", qa_path,
            "--docs_glob", docs_dir,
            "--output_dir", out_root,
            "--chunk_size", "256",
            "--chunk_overlap", "32",
        ],
        spark=spark,
    )
    rows = [
        json.loads(l)
        for p in os.listdir(out_dir)
        if p.startswith("part-") and p.endswith(".json")
        for l in open(os.path.join(out_dir, p))
    ]
    assert len(rows) == 3  # 2 answered + 1 missing-doc error row
    summary = json.load(open(os.path.join(out_dir, "_summary.json")))
    assert summary["config"]["prompt_set"] == prompt_set


def test_cli_prompt_set_auto_detection_recorded(spark, fixture_dirs):
    """No --prompt_set ⇒ the format-derived set is resolved and
    recorded (main_async.py:92-101: plain_text → baseline)."""
    qa_path, docs_dir, out_root = fixture_dirs
    out_dir = run(
        [
            "--dataset", "financebench",
            "--approach", "mapreduce",
            "--format_type", "plain_text",
            "--data_path", qa_path,
            "--docs_glob", docs_dir,
            "--output_dir", out_root,
            "--chunk_size", "256",
            "--chunk_overlap", "32",
        ],
        spark=spark,
    )
    summary = json.load(open(os.path.join(out_dir, "_summary.json")))
    assert summary["config"]["prompt_set"] == "baseline"


def test_cli_json_format_struct_filter(spark, fixture_dirs):
    """--format_type json routes the map stage through the P2 struct
    filter (from_json → relevance_score > 5) end to end."""
    qa_path, docs_dir, out_root = fixture_dirs
    out_dir = run(
        [
            "--dataset", "financebench",
            "--approach", "mapreduce",
            "--format_type", "json",
            "--data_path", qa_path,
            "--docs_glob", docs_dir,
            "--output_dir", out_root,
            "--chunk_size", "256",
            "--chunk_overlap", "32",
        ],
        spark=spark,
    )
    rows = [
        json.loads(l)
        for p in os.listdir(out_dir)
        if p.startswith("part-") and p.endswith(".json")
        for l in open(os.path.join(out_dir, p))
    ]
    assert len(rows) == 3
    summary = json.load(open(os.path.join(out_dir, "_summary.json")))
    assert summary["config"]["format_type"] == "json"


def test_cli_response_cache_across_runs(spark, fixture_dirs, tmp_path):
    """--response_cache_dir: a second identical CLI run produces the
    same results while serving every prompt from the cache table."""
    qa_path, docs_dir, out_root = fixture_dirs
    cache_dir = str(tmp_path / "resp_cache")
    argv = [
        "--dataset", "financebench",
        "--approach", "mapreduce",
        "--format_type", "hybrid",
        "--data_path", qa_path,
        "--docs_glob", docs_dir,
        "--output_dir", out_root,
        "--chunk_size", "256",
        "--chunk_overlap", "32",
        "--response_cache_dir", cache_dir,
    ]

    def rows_of(out_dir):
        return sorted(
            (r["qa_id"], r.get("llm_answer"))
            for p in os.listdir(out_dir)
            if p.startswith("part-") and p.endswith(".json")
            for r in (json.loads(l) for l in open(os.path.join(out_dir, p)))
        )

    r1 = rows_of(run(argv, spark=spark))
    assert os.path.isdir(cache_dir)  # cache table materialized
    r2 = rows_of(run(argv, spark=spark))
    assert r2 == r1


def test_cli_pdf_corpus(spark, fixture_dirs, tmp_path):
    """--docs_format pdf routes through the S4/S5 binaryFile +
    mapInPandas parser chain; with the hermetic fake parser the text
    layer extracts and the pipeline answers."""
    qa_path, _docs_dir, out_root = fixture_dirs
    pdfs = tmp_path / "pdfs"
    pdfs.mkdir()
    (pdfs / "acme_2023.pdf").write_bytes(
        b"%PDF-1.4\n"
        # vary per repetition: a periodic body whose period divides the
        # chunk step makes every chunk byte-identical, letting ONE
        # unlucky mock score filter the whole document
        + "".join(
            f"Acme revenue grew nine percent in month {i}. "
            for i in range(300)
        ).encode()
    )
    (pdfs / "beta_2022.pdf").write_bytes(
        b"%PDF-1.4\n"
        + "".join(f"Beta filed a 10-K in week {i}. " for i in range(300)).encode()
    )
    out_dir = run(
        [
            "--dataset", "financebench",
            "--approach", "mapreduce",
            "--data_path", qa_path,
            "--docs_glob", str(pdfs),
            "--docs_format", "pdf",
            "--pdf_parser", "fake",
            "--output_dir", out_root,
            "--chunk_size", "256",
            "--chunk_overlap", "32",
            "--comment", "pdf smoke",
        ],
        spark=spark,
    )
    rows = [
        json.loads(l)
        for p in os.listdir(out_dir)
        if p.startswith("part-") and p.endswith(".json")
        for l in open(os.path.join(out_dir, p))
    ]
    assert len(rows) == 3
    answered = [r for r in rows if r.get("llm_answer")]
    assert len(answered) == 2  # both PDF docs parsed and answered
    summary = json.load(open(os.path.join(out_dir, "_summary.json")))
    assert summary["config"]["comment"] == "pdf smoke"
    assert summary["config"]["pdf_parser"] == "fake"


def test_cli_max_total_requests_shapes_partitions(spark, fixture_dirs):
    """--max_total_requests caps global in-flight concurrency by
    sizing the LLM-stage repartition: partitions × per-partition
    concurrency ≤ cap."""
    qa_path, docs_dir, out_root = fixture_dirs
    out_dir = run(
        [
            "--dataset", "financebench",
            "--approach", "mapreduce",
            "--data_path", qa_path,
            "--docs_glob", docs_dir,
            "--output_dir", out_root,
            "--chunk_size", "256",
            "--chunk_overlap", "32",
            "--max_concurrent_chunks", "10",
            "--max_total_requests", "20",  # → 2 partitions × 10
        ],
        spark=spark,
    )
    assert os.path.isdir(out_dir)
    rows = [
        json.loads(l)
        for p in os.listdir(out_dir)
        if p.startswith("part-") and p.endswith(".json")
        for l in open(os.path.join(out_dir, p))
    ]
    assert len(rows) == 3


def test_count_tokens_cli(spark, fixture_dirs, capsys):
    """scripts/count_tokens.py parity: per-directory totals, grand
    total, and a log2-bucket histogram, as one Spark agg per glob.
    The DEFAULT model is the vendored-merges BPE (round 15 — the
    reference counts tiktoken tokens, document_processing.py:19-23):
    the acme doc encodes to 28 tokens × 40 reps, the beta doc 16 × 40
    (derived with functions/token_model.default_encoder_factory)."""
    qa_path, docs_dir, _ = fixture_dirs
    from finmapreduce_spark.count_tokens import main

    out = main(["--docs_glob", docs_dir, "--per_file"], spark=spark)
    (d,) = out["dirs"]
    assert d["files"] == 2
    assert d["per_file"] == {"acme_2023": 1120, "beta_2022": 640}
    assert d["tokens"] == 1760 and out["total"] == {"files": 2, "tokens": 1760}
    assert (d["min"], d["max"], d["avg"]) == (640, 1120, 880.0)
    # 640 → floor(log2)=9 → 512-1023; 1120 → floor(log2)=10 → 1024-2047
    assert out["histogram"] == {"512-1023": 1, "1024-2047": 1}
    assert json.loads(capsys.readouterr().out)["total"]["tokens"] == 1760


def test_count_tokens_cli_ws_model(spark, fixture_dirs):
    """--model ws keeps the legacy whitespace counts behind the flag:
    the acme doc is 8 words × 40 reps, the beta doc 4 words × 40 reps
    (trailing space does not create a token)."""
    qa_path, docs_dir, _ = fixture_dirs
    from finmapreduce_spark.count_tokens import main

    out = main(
        ["--docs_glob", docs_dir, "--model", "ws", "--per_file"], spark=spark
    )
    (d,) = out["dirs"]
    assert d["per_file"] == {"acme_2023": 320, "beta_2022": 160}
    assert out["total"] == {"files": 2, "tokens": 480}
    assert out["histogram"] == {"128-255": 1, "256-511": 1}


def test_count_tokens_cli_merges_model(spark, fixture_dirs):
    """--model merges drives the trained-tokenizer path through the
    same CLI (MergesBPE over a merges file; here an EMPTY merge list
    ⇒ every letter/char is one token, so counts equal char counts of
    the letter/non-letter runs — exact and hand-derivable)."""
    qa_path, docs_dir, _ = fixture_dirs
    import os

    from finmapreduce_spark.count_tokens import main

    merges = os.path.join(os.path.dirname(docs_dir), "empty_merges.txt")
    with open(merges, "w") as f:
        f.write("# no merges\n")
    out = main(
        ["--docs_glob", docs_dir, "--model", "merges",
         "--merges_file", merges, "--per_file"],
        spark=spark,
    )
    (d,) = out["dirs"]
    # zero merges ⇒ token count == character count (every char is a
    # single-char token, letters and non-letters alike)
    assert d["per_file"] == {
        "acme_2023": len("Acme revenue grew nine percent in fiscal 2023. " * 40),
        "beta_2022": len("Beta filed a 10-K. " * 40),
    }


def test_count_tokens_cli_nested_brace_glob(spark, fixture_dirs):
    """Nested brace alternation must expand to the REAL file set:
    '{acme*,{beta*,acme*}}' is alternatives ['acme*', '{beta*,acme*}']
    (depth-0 comma split — round-10 advice; a naive split yields
    '{beta*' / 'acme*}' which match nothing), so both docs are
    counted and the doubly-matched acme hits the grand total ONCE."""
    qa_path, docs_dir, _ = fixture_dirs
    from finmapreduce_spark.count_tokens import main

    pattern = f"{docs_dir}/{{acme*,{{beta*,acme*}}}}"
    out = main(["--docs_glob", pattern, "--per_file"], spark=spark)
    (d,) = out["dirs"]
    # per-glob entry counts every match (acme twice is still one FILE
    # per distinct path); grand total dedups on realpath. Default
    # merges-BPE counts: 28×40 and 16×40 (see test_count_tokens_cli).
    assert d["per_file"] == {"acme_2023": 1120, "beta_2022": 640}
    assert out["total"] == {"files": 2, "tokens": 1760}


def test_cli_preprocess_questions_hybrid(spark, fixture_dirs, capsys):
    """--preprocess_questions under the hybrid set rewrites every
    question through the improvement template before the pipeline
    (mock improve echoes 'Improved: <prompt>'), visible in the
    results rows' question column."""
    qa_path, docs_dir, out_root = fixture_dirs
    out_dir = run(
        [
            "--dataset", "financebench",
            "--approach", "mapreduce",
            "--format_type", "hybrid",
            "--preprocess_questions",
            "--data_path", qa_path,
            "--docs_glob", docs_dir,
            "--output_dir", out_root + "_pre",
            "--chunk_size", "256",
            "--chunk_overlap", "32",
        ],
        spark=spark,
    )
    rows = [
        json.loads(l)
        for p in os.listdir(out_dir)
        if p.startswith("part-") and p.endswith(".json")
        for l in open(os.path.join(out_dir, p))
    ]
    assert len(rows) == 3
    for r in rows:
        assert r["question"].startswith("Improved: ")
        assert "Rewrite the question" in r["question"]  # template rendered


def test_cli_preprocess_questions_warns_without_template(
    spark, fixture_dirs, capsys
):
    """Sets without a question_improvement template keep the original
    questions and say so (reference base_pipeline.py:593-596)."""
    qa_path, docs_dir, out_root = fixture_dirs
    out_dir = run(
        [
            "--dataset", "financebench",
            "--approach", "mapreduce",
            "--format_type", "hybrid",
            "--prompt_set", "default",  # no improvement template
            "--preprocess_questions",
            "--data_path", qa_path,
            "--docs_glob", docs_dir,
            "--output_dir", out_root + "_nopre",
            "--chunk_size", "256",
            "--chunk_overlap", "32",
        ],
        spark=spark,
    )
    assert "no question_improvement template" in capsys.readouterr().out
    rows = [
        json.loads(l)
        for p in os.listdir(out_dir)
        if p.startswith("part-") and p.endswith(".json")
        for l in open(os.path.join(out_dir, p))
    ]
    assert all(not r["question"].startswith("Improved: ") for r in rows)


def test_count_tokens_overlapping_globs_dedupe_grand_total(spark, tmp_path):
    """Round-9 advice #3: a file matched by two --docs_glob patterns
    keeps its per-glob entries (reference per-directory semantics) but
    must land in the grand total and histogram exactly once."""
    from finmapreduce_spark.count_tokens import main

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.md").write_text("one two three")  # 3 ws tokens
    (d / "b.md").write_text("four five")  # 2 ws tokens
    # --model ws: this test pins GLOB-DEDUP semantics, so the legacy
    # model keeps the expectations hand-derivable from word counts
    out = main(
        ["--docs_glob", str(d / "*.md"), str(d / "a.md"), "--model", "ws"],
        spark=spark,
    )
    ga, gb = out["dirs"]
    assert (ga["files"], ga["tokens"]) == (2, 5)
    assert (gb["files"], gb["tokens"]) == (1, 3)  # per-glob: still counted
    # grand total deduped: a.md once
    assert out["total"] == {"files": 2, "tokens": 5}
    # 3 tokens -> bucket 2-3; 2 tokens -> bucket 2-3: one entry, 2 files
    assert sum(out["histogram"].values()) == 2


def test_curate_cli(spark, tmp_path, capsys):
    """The curation batch entry point writes the four artifacts a
    training job consumes, with counts consistent between the funnel
    summary and the written tables (and with each other: layout and
    shards cover exactly the selected docs)."""
    import json as _json
    import os as _os

    from finmapreduce_spark.curate import main

    out = str(tmp_path / "curated")
    summary = main(
        ["--sf_dir", "/root/testdata/sf0.001", "--out", out], spark=spark
    )
    printed = _json.loads(capsys.readouterr().out)
    assert printed["funnel"] == summary["funnel"]
    for name in (
        "keep_list.parquet",
        "selected.parquet",
        "layout.parquet",
        "shards.parquet",
    ):
        assert _os.path.exists(_os.path.join(out, name)), name
    sel = spark.read.parquet(_os.path.join(out, "selected.parquet"))
    lay = spark.read.parquet(_os.path.join(out, "layout.parquet"))
    shd = spark.read.parquet(_os.path.join(out, "shards.parquet"))
    keep = spark.read.parquet(_os.path.join(out, "keep_list.parquet"))
    n_sel = sel.count()
    assert summary["funnel"]["n_selected"] == n_sel
    assert summary["funnel"]["n_dedup_kept"] == keep.count()
    assert lay.count() == n_sel and shd.count() == n_sel
    assert {r["doc_id"] for r in lay.select("doc_id").collect()} == {
        r["doc_id"] for r in sel.collect()
    }
    assert sum(c["n_docs"] for c in summary["cells"]) == n_sel
    spark.catalog.clearCache()


def test_curate_run_releases_every_persist(spark, sf_dir, tmp_path, monkeypatch):
    """curate.run owns what it persists: once it returns, no frame it
    persisted (in any thread) is still cached, with no clearCache by
    the caller (the keep-list's CC checkpoints are not frames)."""
    from pyspark import StorageLevel

    from finmapreduce_spark.curate import run

    spark.catalog.clearCache()
    frame_cls = type(spark.range(1))
    real_persist = frame_cls.persist
    persisted = []

    def persist(self, *a, **kw):
        persisted.append(self)
        return real_persist(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "persist", persist)
    summary = run(spark, sf_dir, str(tmp_path / "curated"))
    monkeypatch.undo()
    assert summary["funnel"]["n_selected"] > 0
    # the six pipeline frames + the keep-list's state and lanes
    assert len(persisted) >= 14, persisted
    cached = [df for df in persisted if df.storageLevel != StorageLevel.NONE]
    assert cached == [], f"{len(cached)} of {len(persisted)} frames still cached"
    spark.catalog.clearCache()


def test_ingest_cli_drives_continuous_dedup(spark, tmp_path, capsys):
    """The ingest CLI processes a two-file backlog through the live
    dedup store with availableNow semantics: two epochs emitted, the
    epoch-1 near-dup of an epoch-0 admit rejected, store populated."""
    import json as _json
    import os as _os
    import time as _time

    from finmapreduce_spark.ingest import main

    landing = tmp_path / "landing"
    landing.mkdir()
    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(58)) + " novel1 novel2"
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 1, "text": base}) + "\n"
    )
    (landing / "e1.json").write_text(
        _json.dumps({"doc_id": 2, "text": near}) + "\n"
    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    summary = main(
        [
            "--mode", "dedup",
            "--landing", str(landing),
            "--store", str(tmp_path / "store"),
            "--out", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--max_files_per_trigger", "1",
        ],
        spark=spark,
    )
    assert summary["epochs"] >= 1 and summary["rows_emitted"] >= 1
    printed = _json.loads(capsys.readouterr().out)
    assert printed == summary
    # epoch 1's near-dup verdict names the epoch-0 admit
    verdicts = spark.read.json(str(tmp_path / "out")).collect()
    dup = [r for r in verdicts if r["doc_id"] == 2]
    assert dup and dup[0]["verdict"] == "reject_near_dup"
    assert dup[0]["max_jaccard"] > 0.9
    assert _os.path.exists(str(tmp_path / "store"))
    spark.catalog.clearCache()


def test_ingest_cli_counts_epochs_that_emit_no_rows(spark, tmp_path):
    """Substring mode emits only rejections, so an epoch that admits
    its one fresh doc emits no row — it still counts as an epoch."""
    import json as _json

    from finmapreduce_spark.ingest import main

    landing = tmp_path / "landing"
    landing.mkdir()
    text = " ".join(f"fresh{i}" for i in range(80))
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 1, "text": text}) + "\n"
    )
    summary = main(
        [
            "--mode", "substring",
            "--landing", str(landing),
            "--store", str(tmp_path / "store"),
            "--out", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "ckpt"),
        ],
        spark=spark,
    )
    assert summary["epochs"] == 1
    assert summary["rows_emitted"] == 0
    assert spark.read.parquet(str(tmp_path / "store")).count() > 0
    spark.catalog.clearCache()


# slow (≈30 s): CLI twin of the continuous-DoReMi loop; the streaming
# twin and the batch oracle cover the arithmetic by default.
@pytest.mark.slow
def test_ingest_cli_drives_continuous_doremi(spark, tmp_path, capsys):
    """The ingest CLI's doremi mode maintains live mixture weights: two
    epochs over two domains, final weights sum to 1 across the domains
    seen, store populated with (source, b, c_add) increments."""
    import json as _json
    import os as _os
    import time as _time

    from finmapreduce_spark.ingest import main

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "e0.json").write_text(
        _json.dumps({"doc_id": 1, "text": "alpha beta gamma", "source": "web"})
        + "\n"
    )
    (landing / "e1.json").write_text(
        _json.dumps({"doc_id": 2, "text": "delta epsilon", "source": "books"})
        + "\n"
    )
    now = _time.time()
    _os.utime(landing / "e0.json", (now - 60, now - 60))
    _os.utime(landing / "e1.json", (now, now))
    summary = main(
        [
            "--mode", "doremi",
            "--landing", str(landing),
            "--store", str(tmp_path / "store"),
            "--out", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--max_files_per_trigger", "1",
        ],
        spark=spark,
    )
    assert summary["epochs"] >= 1 and summary["rows_emitted"] >= 1
    printed = _json.loads(capsys.readouterr().out)
    assert printed == summary
    rows = spark.read.json(str(tmp_path / "out")).collect()
    final = [r for r in rows if r["epoch"] == max(x["epoch"] for x in rows)]
    assert {r["source"] for r in final} == {"web", "books"}
    assert abs(sum(r["weight"] for r in final) - 1.0) < 1e-6
    store = spark.read.parquet(str(tmp_path / "store"))
    assert {"source", "b", "c_add"} <= set(store.columns)
    spark.catalog.clearCache()
