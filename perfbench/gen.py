"""Seeded input generator for the benchmark workloads.

Every workload's inputs are a pure function of ``(workload, seed)``:
the same seed writes byte-identical files.  Sizes are fixed per
workload and only the content varies with the seed, so two seeds ask
the engine for the same amount of work.  Inputs are written once per
seed under ``<work>/inputs/<workload>/seed-<n>/`` and reused after
that; ``props.json`` is written last and marks a complete set.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time

# Financial-report vocabulary for the generated prose.  Real filings
# are what the engine chunks, so the text is lowercase English words
# that the vendored BPE merges compress the way they compress prose.
WORDS = tuple(
    """
    revenue income operating expenses margin growth quarter fiscal year
    company management reported increase decrease total net gross cost
    sales segment customers products services cash flow capital debt
    interest tax rate earnings share dividend repurchase liquidity credit
    facility borrowings assets liabilities equity goodwill impairment
    inventory receivables payables depreciation amortization restructuring
    charges acquisition integration synergies guidance outlook demand
    pricing competition supply chain logistics manufacturing facilities
    research development pipeline regulatory approval litigation reserve
    pension obligations discount assumptions currency translation hedging
    contracts commodity exposure risk factors uncertainty market conditions
    subscription recurring backlog bookings renewals enterprise consumer
    international domestic region americas europe asia pacific expansion
    investment portfolio securities maturities covenant compliance audit
    committee board directors executive compensation stock options units
    performance period compared prior primarily driven higher lower offset
    partially favorable unfavorable impact resulting attributable including
    approximately million billion percent basis points adjusted reconciliation
    measures statements consolidated condensed notes disclosure accounting
    policies estimates judgments recognized deferred contract balances lease
    right use obligations commitments contingencies subsequent events
    """.split()
)
SECTIONS = (
    "Business", "Risk Factors", "Properties", "Legal Proceedings",
    "Market for Common Equity", "Management's Discussion and Analysis",
    "Quantitative and Qualitative Disclosures About Market Risk",
    "Financial Statements and Supplementary Data", "Controls and Procedures",
    "Executive Compensation",
)
METRICS = (
    "total revenue", "operating income", "net income", "gross margin",
    "free cash flow", "capital expenditure", "diluted earnings per share",
    "long-term debt", "inventory turnover", "effective tax rate",
    "research and development expense", "dividends paid",
)

# Short-document vocabulary of the curation corpus, the shape of the
# catalog's ``documents`` table; it includes stopwords the Gopher gate
# counts, so most documents of 50 words or more pass cleaning.
CORPUS_WORDS = tuple(
    """
    key agg row scan slow fast table value part hash batch window spark
    order data column join small line customer query big stream sort
    merge filter group vector a the of and to
    """.split()
)
LANGS = ("en", "en", "en", "es", "zh", "de", "fr")
EMB_DIM = 64

# Fixed sizes per workload; the seed changes content, never volume.
SPECS = {
    # FinanceBench shape: 10-K-length filings, a few questions each,
    # several chunks per question at the CLI's 32768/4096 token budgets.
    "qa_longdoc": {"docs": 6, "doc_chars": (150_000, 150_000),
                   "questions_per_doc": 3, "missing_questions": 2},
    # Interactive serving: one distinct page and question per request.
    "answer_serve": {"docs": 240, "doc_chars": (2_000, 6_000),
                     "questions_per_doc": 1, "missing_questions": 0},
    # Curation: a ``documents`` + ``embeddings`` pair in the catalog's
    # schema, a stated share of them planted near-duplicates (exact
    # copies, one-word edits, appended tails).
    "curate_corpus": {"docs": 500, "words": (20, 120),
                      "near_dup_share": 0.2, "embedded_share": 0.4},
}


def _number(rng: random.Random) -> str:
    if rng.random() < 0.5:
        return f"${rng.randint(1, 9_999):,}.{rng.randint(0, 9)} million"
    return f"{rng.randint(0, 99)}.{rng.randint(0, 9)}%"


def _sentence(rng: random.Random) -> str:
    words = rng.choices(WORDS, k=rng.randint(8, 22))
    if rng.random() < 0.4:
        words.insert(rng.randrange(len(words)), _number(rng))
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _table(rng: random.Random) -> str:
    years = sorted(rng.sample(range(2015, 2025), 3), reverse=True)
    rows = ["| Item | " + " | ".join(f"FY{y}" for y in years) + " |",
            "|---|---|---|---|"]
    for metric in rng.sample(METRICS, 4):
        cells = " | ".join(f"{rng.randint(10, 99_999):,}" for _ in years)
        rows.append(f"| {metric.capitalize()} | {cells} |")
    return "\n".join(rows)


def _markdown(rng: random.Random, title: str, n_chars: int) -> str:
    """A filing-shaped markdown document of at least ``n_chars``."""
    parts = [f"# {title}"]
    size = len(parts[0])
    item = 0
    while size < n_chars:
        if len(parts) % 7 == 1:
            item += 1
            block = f"## Item {item}. {SECTIONS[item % len(SECTIONS)]}"
        elif rng.random() < 0.12:
            block = _table(rng)
        else:
            block = " ".join(_sentence(rng) for _ in range(rng.randint(3, 7)))
        parts.append(block)
        size += len(block) + 2
    return "\n\n".join(parts) + "\n"


def _sizes(rng: random.Random, n: int, lo: int, hi: int) -> list[int]:
    """``n`` sizes evenly spread over [lo, hi] in a seeded order, so
    the total is the same for every seed."""
    step = (hi - lo) / max(n - 1, 1)
    sizes = [int(lo + i * step) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def _question(rng: random.Random, company: str, uid: int) -> tuple[str, str]:
    metric = rng.choice(METRICS)
    year = rng.randint(2015, 2024)
    q = f"What was {company}'s {metric} in FY{year}? (ref {uid})"
    return q, _number(rng)


def _write_docs(rng, d: str, names: list[str], sizes: list[int]) -> list[int]:
    os.makedirs(d, exist_ok=True)
    lengths = []
    for name, size in zip(names, sizes):
        text = _markdown(rng, f"{name} annual report", size)
        with open(os.path.join(d, f"{name}.md"), "w", encoding="utf-8") as f:
            f.write(text)
        lengths.append(len(text))
    return lengths


def _qa_rows(rng, names: list[str], per_doc: list[int], missing: int):
    rows, uid = [], 0
    for name, k in zip(names, per_doc):
        for _ in range(k):
            q, a = _question(rng, name, uid)
            rows.append({"doc_name": name, "question": q, "answer": a})
            uid += 1
    for i in range(missing):
        q, a = _question(rng, f"ABSENT{i}", uid)
        rows.append({"doc_name": f"ABSENT{i}_10K", "question": q, "answer": a})
        uid += 1
    rng.shuffle(rows)
    return rows


def _corpus(rng: random.Random, n: int, spec: dict) -> tuple[list[dict], list[dict], int]:
    """``n`` documents and the embeddings of the first share of them;
    a planted near-duplicate copies an earlier document (and its
    vector, with a small perturbation).  Returns (docs, vectors,
    planted near-duplicates)."""
    lo, hi = spec["words"]
    n_emb = int(n * spec["embedded_share"])
    docs, vecs, planted = [], [], 0
    for i in range(n):
        src = rng.randrange(i) if i and rng.random() < spec["near_dup_share"] else None
        if src is None:
            words = rng.choices(CORPUS_WORDS, k=rng.randint(lo, hi))
            lang = rng.choice(LANGS)
            vec = [rng.gauss(0.0, 0.15) for _ in range(EMB_DIM)]
        else:
            planted += 1
            words = docs[src]["text"].split()
            kind = rng.randrange(3)
            if kind == 1:
                words[rng.randrange(len(words))] = rng.choice(CORPUS_WORDS)
            elif kind == 2:
                words += rng.choices(CORPUS_WORDS, k=rng.randint(1, 4))
            lang = docs[src]["lang"]
            base = vecs[src]["embedding"] if src < n_emb else None
            vec = ([x + rng.gauss(0.0, 0.002) for x in base] if base
                   else [rng.gauss(0.0, 0.15) for _ in range(EMB_DIM)])
        text = " ".join(words)
        docs.append({"doc_id": i, "text": text, "lang": lang, "source": f"src{i % 20}",
                     "n_chars": len(text)})
        if i < n_emb:
            vecs.append({"vec_id": i, "embedding": vec, "label": rng.randrange(10)})
    return docs, vecs, planted


def _write_corpus(out: str, docs: list[dict], vecs: list[dict]) -> None:
    """The two tables the curation pipeline reads, as parquet files in
    the catalog's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, schema=pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())])),
        os.path.join(out, "documents.parquet"))
    pq.write_table(pa.Table.from_pylist(vecs, schema=pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())])),
        os.path.join(out, "embeddings.parquet"))


def _generate_corpus(seed: int, out: str) -> dict:
    spec = SPECS["curate_corpus"]
    rng = random.Random(f"curate_corpus:{seed}")
    docs, vecs, planted = _corpus(rng, spec["docs"], spec)
    _write_corpus(os.path.join(out, "corpus"), docs, vecs)
    lengths = [d["n_chars"] for d in docs]
    return {
        "workload": "curate_corpus",
        "seed": seed,
        "docs": len(docs),
        "chars_per_doc": {"min": min(lengths), "median": statistics.median(lengths),
                          "max": max(lengths)},
        "total_chars": sum(lengths),
        "embeddings": len(vecs),
        "near_dup_share": planted / len(docs),
    }


def _generate(workload: str, seed: int, out: str) -> dict:
    if workload == "curate_corpus":
        return _generate_corpus(seed, out)
    spec = SPECS[workload]
    rng = random.Random(f"{workload}:{seed}")
    n = spec["docs"]
    if workload == "qa_longdoc":
        names = [f"CO{seed % 1000:03d}{i:03d}_{2015 + i % 10}_10K" for i in range(n)]
    else:
        names = [f"page_{seed % 1000:03d}_{i:05d}" for i in range(n)]
    lengths = _write_docs(rng, os.path.join(out, "docs"), names,
                          _sizes(rng, n, *spec["doc_chars"]))
    per_doc = [spec["questions_per_doc"]] * n
    rows = _qa_rows(rng, names, per_doc, spec["missing_questions"])
    if workload == "qa_longdoc":
        with open(os.path.join(out, "qa.jsonl"), "w", encoding="utf-8") as f:
            for i, r in enumerate(rows):
                r = {"financebench_id": f"fb_{i}", **r,
                     "evidence": [{"evidence_text": r["answer"]}]}
                f.write(json.dumps(r) + "\n")
    else:
        with open(os.path.join(out, "requests.json"), "w", encoding="utf-8") as f:
            json.dump([{"path": f"docs/{r['doc_name']}.md",
                        "question": r["question"]} for r in rows], f)
    return {
        "workload": workload,
        "seed": seed,
        "docs": n,
        "chars_per_doc": {"min": min(lengths), "median": statistics.median(lengths),
                          "max": max(lengths)},
        "total_chars": sum(lengths),
        "questions": len(rows),
        "questions_per_doc": statistics.mean(per_doc),
        "missing_doc_questions": spec["missing_questions"],
    }


def ensure_inputs(workload: str, seed: int, work: str) -> tuple[str, dict, float]:
    """Return ``(input_dir, properties, seconds spent generating)``;
    generation is skipped when this seed's inputs already exist."""
    if workload not in SPECS:
        raise ValueError(f"unknown workload {workload!r}; one of {sorted(SPECS)}")
    out = os.path.join(work, "inputs", workload, f"seed-{seed}")
    marker = os.path.join(out, "props.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, json.load(f), 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    props = _generate(workload, seed, out)
    with open(marker, "w") as f:
        json.dump(props, f, indent=1)
    return out, props, time.perf_counter() - t0
