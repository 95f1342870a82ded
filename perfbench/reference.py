"""Independent recomputation of every workload's outputs, without Spark.

QA: plain single-threaded Python over the generated files, with the
same deterministic ``MockLLM``, the vendored BPE encoder, the chunk
arithmetic of the token-exact splitter, and the prompt templates the
run uses.  The benchmark compares every written answer and judgment,
and every ``/answer`` response, against these rows.

Curation: the ``curation_e2e_report`` DuckDB oracle over the generated
corpus; the written keep-list, selection and layout/shard cells and
the printed funnel must equal it.
"""

from __future__ import annotations

import json
import os
import re

from finmapreduce_spark.functions.token_model import default_encoder_factory
from finmapreduce_spark.llm.client import MockLLM

_SCORE = re.compile(r"Score:\s*(\d+)")


class QAReference:
    def __init__(self, *, chunk_size: int, chunk_overlap: int,
                 map_template: str, reduce_template: str,
                 judge_template: str = "%s", score_threshold: int = 5):
        self.size = chunk_size
        self.step = chunk_size - chunk_overlap
        self.map_t = map_template
        self.reduce_t = reduce_template
        self.judge_t = judge_template
        self.threshold = score_threshold
        self.enc = default_encoder_factory("bpe")()
        self.llm = MockLLM()
        self._chunks: dict[str, list[str]] = {}

    def _call(self, prompt: str, kind: str):
        # MockLLM never awaits, so one send() runs the coroutine to its end
        coro = self.llm.acomplete(prompt, kind=kind)
        try:
            coro.send(None)
        except StopIteration as done:
            return done.value
        raise RuntimeError("MockLLM.acomplete suspended")

    def chunks(self, text: str) -> list[str]:
        got = self._chunks.get(text)
        if got is None:
            toks = self.enc.encode(text)
            n = len(toks)
            count = 1 if n <= self.size else -(-(n - self.size) // self.step) + 1
            got = [self.enc.decode(toks[i * self.step:i * self.step + self.size])
                   for i in range(count)]
            self._chunks[text] = got
        return got

    def answer(self, question: str, text: str | None) -> dict:
        """One answers row, as ``answers_with_errors`` defines it."""
        row = {"llm_answer": None, "llm_reasoning": None, "llm_evidence": None,
               "n_kept": 0, "input_tokens": None, "output_tokens": None,
               "error": None, "n_chunks": 0}
        if text is None:
            row["error"] = "document not found"
            return row
        if not text.strip(" "):
            row["error"] = "empty document"
            return row
        chunks = self.chunks(text)
        row["n_chunks"] = len(chunks)
        kept = []
        for chunk in chunks:
            content = self._call(self.map_t % (question, chunk), "map").content
            m = _SCORE.search(content)
            if m and int(m.group(1)) > self.threshold:
                kept.append(content)
        if not kept:
            row["error"] = "no chunks passed the relevance filter"
            return row
        resp = self._call(self.reduce_t % (question, "\n".join(kept)), "reduce")
        try:
            parsed = json.loads(resp.content)
        except ValueError:
            parsed = {"answer": resp.content}
        ev = parsed.get("evidence")
        row.update(
            llm_answer=parsed.get("answer"),
            llm_reasoning=parsed.get("reasoning"),
            llm_evidence=json.dumps(ev) if ev is not None else None,
            n_kept=len(kept),
            input_tokens=resp.input_tokens,
            output_tokens=resp.output_tokens,
        )
        return row

    def judge(self, llm_answer: str | None, gold: str | None) -> tuple[str, str]:
        """Judge one item on its own; the mock judges items
        independently, so batch composition cannot change a verdict."""
        items = (f"<evaluation_items>\n<item><llm_answer>{llm_answer or ''}"
                 f"</llm_answer>\n<gold>{gold or ''}</gold></item>\n"
                 "</evaluation_items>")
        parsed = json.loads(self._call(self.judge_t % items, "judge").content)
        return parsed["judgement"], parsed["reasoning"]


def read_docs(doc_dir: str) -> dict[str, str]:
    docs = {}
    for name in os.listdir(doc_dir):
        if name.endswith(".md"):
            with open(os.path.join(doc_dir, name), encoding="utf-8", newline="") as f:
                docs[name[:-3]] = f.read()
    return docs


def batch_expected(ref: QAReference, qa_rows: list[dict], docs: dict[str, str]) -> dict:
    """(doc_id, question) → expected answers row plus its judgment."""
    out = {}
    for r in qa_rows:
        row = ref.answer(r["question"], docs.get(r["doc_name"]))
        row.pop("n_chunks")
        row["answer"] = r["answer"]
        row["judgment"], row["judge_reasoning"] = ref.judge(row["llm_answer"], r["answer"])
        out[(r["doc_name"], r["question"])] = row
    return out


def read_json_dir(path: str) -> list[dict]:
    """Rows of a Spark JSON output directory (hidden files skipped)."""
    rows = []
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")) or not name.endswith(".json"):
            continue
        with open(os.path.join(path, name), encoding="utf-8") as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


ANSWER_FIELDS = ("answer", "llm_answer", "llm_reasoning", "llm_evidence",
                 "n_kept", "input_tokens", "output_tokens", "error")


def batch_mismatches(expected: dict, answers: list[dict], judged: list[dict]) -> list[str]:
    """Differences between one job's written rows and the reference."""
    problems = []
    verdicts = {j["qa_id"]: j for j in judged}
    seen = set()
    for a in answers:
        key = (a.get("doc_id"), a.get("question"))
        exp = expected.get(key)
        if exp is None or key in seen:
            problems.append(f"unexpected or repeated row {key}")
            continue
        seen.add(key)
        for f in ANSWER_FIELDS:
            if a.get(f) != exp[f]:
                problems.append(f"{key}: {f} {a.get(f)!r} != {exp[f]!r}")
        j = verdicts.get(a.get("qa_id"), {})
        if (j.get("judgment"), j.get("reasoning")) != (exp["judgment"], exp["judge_reasoning"]):
            problems.append(f"{key}: judgment {j!r} != {exp['judgment']!r}")
    if len(seen) != len(expected):
        problems.append(f"{len(expected) - len(seen)} questions missing from the output")
    if len(judged) != len(expected):
        problems.append(f"{len(judged)} judgments for {len(expected)} questions")
    return problems


FUNNEL = ("n_raw", "n_clean_kept", "n_clean_unique", "n_len_kept", "n_dedup_kept",
          "n_selected")
# the oracle's CTEs that later ones read more than once; DuckDB would
# otherwise inline and recompute each (the keep-list's recursive CC
# most of all) at every reference
_SHARED_CTES = ("ckeep", "cuniq", "trimmed", "keepl", "surv", "selected")


def curation_expected(corpus: str) -> dict:
    """The ``curation_e2e_report`` DuckDB oracle over the corpus: the
    per-(shard, stage) cells, the funnel, the keep-list and the
    selection."""
    import duckdb

    from finmapreduce_spark.queries.training import _curation_oracle

    sql = _curation_oracle()
    for name in _SHARED_CTES:
        sql, n = re.subn(rf"^{name} AS \(", f"{name} AS MATERIALIZED (", sql, flags=re.M)
        if n != 1:
            raise RuntimeError(f"oracle CTE {name!r} not found")
    cut = sql.rindex("SELECT l.shard")
    # one statement, so the materialized CTEs are computed once
    sql = (f"{sql[:cut]} SELECT 'cell' AS kind, * FROM ({sql[cut:]}) "
           "UNION ALL BY NAME SELECT 'keep' AS kind, doc_id FROM surv "
           "UNION ALL BY NAME SELECT 'selected' AS kind, doc_id FROM selected")
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = [dict(zip(cols, r)) for r in res.fetchall()]
    finally:
        con.close()
    cells = [r for r in rows if r["kind"] == "cell"]
    return {
        "cells": {(r["shard"], r["stage"]): (r["n_docs"], r["cell_tokens"], r["n_seqs"])
                  for r in cells},
        "funnel": {k: cells[0][k] for k in FUNNEL} if cells else None,
        "keep": {r["doc_id"] for r in rows if r["kind"] == "keep"},
        "selected": {r["doc_id"] for r in rows if r["kind"] == "selected"},
    }


def curation_mismatches(expected: dict, out: str, summary: dict) -> list[str]:
    """Differences between one curation job (its written artifacts and
    printed summary) and the oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        def ids(name):
            return {r[0] for r in con.execute(
                f"SELECT doc_id FROM '{out}/{name}.parquet/*.parquet'").fetchall()}

        keep, selected = ids("keep_list"), ids("selected")
        written = {(r[0], r[1]): tuple(r[2:]) for r in con.execute(f"""
            SELECT s.shard, l.stage, count(*), sum(l.n_tokens),
                   count(DISTINCT l.bucket * 1000000 + l.seq_id)
            FROM '{out}/layout.parquet/*.parquet' l
            JOIN '{out}/shards.parquet/*.parquet' s USING (doc_id)
            GROUP BY 1, 2""").fetchall()}
    finally:
        con.close()
    problems = []
    if summary["funnel"] != expected["funnel"]:
        problems.append(f"funnel {summary['funnel']} != {expected['funnel']}")
    for name, got in (("keep_list", keep), ("selected", selected)):
        want = expected["keep" if name == "keep_list" else "selected"]
        if got != want:
            problems.append(f"{name}: {len(got - want)} extra, {len(want - got)} missing doc_ids")
    if written != expected["cells"]:
        problems.append(f"layout x shards cells {sorted(written.items())[:4]} "
                        f"!= {sorted(expected['cells'].items())[:4]}")
    printed = {(c["shard"], c["stage"]): (c["n_docs"], c["cell_tokens"])
               for c in summary["cells"]}
    if printed != {k: v[:2] for k, v in expected["cells"].items()}:
        problems.append("printed cells differ from the oracle")
    return problems


def serve_mismatches(expected: dict, got: dict) -> list[str]:
    fields = {"answer": "llm_answer", "reasoning": "llm_reasoning",
              "evidence": "llm_evidence", "error": "error", "n_kept": "n_kept",
              "n_chunks": "n_chunks", "input_tokens": "input_tokens",
              "output_tokens": "output_tokens"}
    return [f"{k}: {got.get(k)!r} != {expected[v]!r}"
            for k, v in fields.items() if got.get(k) != expected[v]]
