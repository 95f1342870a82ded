"""End-to-end MapReduce-QA pipeline queries.

These run the REAL execution path — Arrow-batched ``mapInPandas``
stages with an asyncio loop, dual token-bucket limiter, retry stack,
robust JSON parsing — with the deterministic MockLLM, whose outputs
are pure md5/word functions of the prompt (FIXTURES.md §10). That
makes the *entire DAG* reproducible in ANSI SQL, so the DuckDB oracle
checks the full pipeline (J1 join → F2 chunk → U1 map → P3 filter →
A1+U2 reduce → W2+U4+J3 judge → A6/A8 stats), not just fragments.

QA workload is synthesized from `documents` (one question per doc +
5 questions referencing missing docs to exercise the J1/P5 error
path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finmapreduce_spark.llm.prompts import load_prompt_set
from finmapreduce_spark.llm.runner import normalize_judgment
from finmapreduce_spark.plans.mapreduce import (
    MapReduceConfig,
    judge_stage,
    run_mapreduce,
)
from finmapreduce_spark.queries import QuerySpec
from finmapreduce_spark.session import read_table

# 512/64 CHAR chunks (token_model="chars" — these parity oracles
# replicate the closed-form char-window splitter in ANSI SQL; the
# engine DEFAULT is the tokenizer-exact model, certified end-to-end
# by pipeline_e2e_answers_bpe below), threshold 5, judge batch 5.
# judge_batching="global"
# is the one deliberate non-default: these queries are the
# reference-parity oracles, and global consecutive batching is what
# the reference does (async_evaluation.py:261) — every serving/CLI
# path uses the scale-safe "bucketed" default instead.
CFG = MapReduceConfig(judge_batching="global", token_model="chars")
_STEP = CFG.chunk_size - CFG.chunk_overlap
N_MISSING = 5


def synthetic_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    qa = docs.select(
        F.col("doc_id").alias("qa_id"),
        "doc_id",
        F.concat(
            F.lit("What is document "),
            F.col("doc_id").cast("string"),
            F.lit(" about?"),
        ).alias("question"),
        F.lit("gold-other").alias("answer"),
    )
    # ONE slice, not defaultParallelism: 5 rows in 32 empty range
    # slices made the union's partition COUNT read >= the session
    # width, silently defeating join_documents' guarded scan floor
    # (the count is the guard) while the data still sat in one split.
    missing = spark.range(0, N_MISSING, 1, 1).select(
        (F.lit(1_000_000) + F.col("id")).alias("qa_id"),
        (F.lit(-1) - F.col("id")).alias("doc_id"),
        F.concat(
            F.lit("What is document "),
            (F.lit(-1) - F.col("id")).cast("string"),
            F.lit(" about?"),
        ).alias("question"),
        F.lit("gold-other").alias("answer"),
    )
    return qa.unionByName(missing)


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").select("doc_id", "text")


def _dag(spark: SparkSession, sf_dir: str, cfg: MapReduceConfig) -> dict:
    """Every stage of the QA MapReduce DAG over the synthetic workload
    (plans/mapreduce.py::run_mapreduce) — lazy: a query acts only on
    the stage it returns."""
    return run_mapreduce(synthetic_qa(spark, sf_dir), _docs(spark, sf_dir), cfg)


def _e2e_answers(spark: SparkSession, sf_dir: str, cfg: MapReduceConfig) -> DataFrame:
    """The answer rows the end-to-end parity queries certify."""
    return _dag(spark, sf_dir, cfg)["answers"].select(
        "qa_id",
        "doc_id",
        F.coalesce("doc_error", F.lit("ok")).alias("doc_status"),
        "n_kept",
        "llm_answer",
        "llm_reasoning",
    )


# Shared oracle CTEs replicating the DAG with the mock-LLM closed forms.
_PIPE_SQL = f"""
qa AS (
  SELECT doc_id AS qa_id, doc_id,
         'What is document ' || CAST(doc_id AS VARCHAR) || ' about?' AS question
  FROM documents
  UNION ALL
  SELECT 1000000 + t.i, -1 - t.i,
         'What is document ' || CAST(-1 - t.i AS VARCHAR) || ' about?'
  FROM range(0, {N_MISSING}) t(i)
),
qa_docs AS (
  SELECT qa.*, d.text,
         CASE WHEN d.text IS NULL THEN 'document not found'
              WHEN length(trim(d.text)) = 0 THEN 'empty document' END AS doc_error
  FROM qa LEFT JOIN documents d USING (doc_id)
),
chunks AS (
  SELECT qa_id, doc_id, question, CAST(t.i AS INT) AS chunk_index,
         substring(text, CAST(t.i AS INT) * {_STEP} + 1, {CFG.chunk_size}) AS chunk_text
  FROM (
    SELECT qa_id, doc_id, question, text,
           CASE WHEN length(text) <= {CFG.chunk_size} THEN 1
                ELSE CAST(ceil((length(text) - {CFG.chunk_size}) / {_STEP}.0) AS BIGINT) + 1
           END AS n_chunks
    FROM qa_docs WHERE doc_error IS NULL
  ), LATERAL unnest(range(0, n_chunks)) AS t(i)
),
mapped AS (
  SELECT qa_id, doc_id, chunk_index, prompt, words, score,
         CASE WHEN score = 0 THEN 'model returned no score'
              ELSE 'Evidence: ' || words[1] || ' ... ' || words[len(words)]
                   || chr(10) || 'Answer: '
                   || words[CAST(floor(len(words) / 2) AS BIGINT) + 1]
                   || chr(10) || 'Score: ' || CAST(score AS VARCHAR)
         END AS content
  FROM (
    SELECT qa_id, doc_id, chunk_index, prompt,
           regexp_split_to_array(trim(prompt), '\\s+') AS words,
           (strpos('0123456789abcdef', substring(md5(prompt), 1, 1)) - 1) % 11 AS score
    FROM (SELECT qa_id, doc_id, chunk_index,
                 question || chr(10) || chr(10) || chunk_text AS prompt
          FROM chunks)
  )
),
kept AS (
  SELECT * FROM mapped WHERE score > {CFG.score_threshold}
),
reduced AS (
  SELECT qa_id,
         count(*) AS n_kept,
         'Question: ' || any_value(question) || chr(10) || chr(10)
           || string_agg(content, chr(10) ORDER BY chunk_index) AS r_prompt
  FROM kept JOIN qa USING (qa_id)
  GROUP BY qa_id
),
answers AS (
  SELECT q.qa_id, q.doc_id, q.question, qd.doc_error,
         r.n_kept,
         CASE WHEN r.qa_id IS NOT NULL
              THEN 'answer-' || substring(md5(r.r_prompt), 1, 8) END AS llm_answer,
         CASE WHEN r.qa_id IS NOT NULL
              THEN 'synthesized from '
                   || CAST(len(regexp_split_to_array(trim(r.r_prompt), '\\s+')) AS VARCHAR)
                   || ' tokens' END AS llm_reasoning
  FROM qa q
  LEFT JOIN (SELECT qa_id, doc_error FROM qa_docs) qd ON q.qa_id = qd.qa_id
  LEFT JOIN reduced r ON q.qa_id = r.qa_id
)
"""


# ---------------------------------------------------------------------------
# E2E answers: the full map→filter→reduce path, error rows preserved
# ---------------------------------------------------------------------------

def pipeline_e2e_answers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _e2e_answers(spark, sf_dir, CFG)


PIPE_E2E_ORACLE = f"""
WITH {_PIPE_SQL}
SELECT qa_id, doc_id,
       coalesce(doc_error, 'ok') AS doc_status,
       coalesce(n_kept, 0) AS n_kept,
       llm_answer, llm_reasoning
FROM answers
"""


# ---------------------------------------------------------------------------
# A6: filtering-effectiveness stats per QA (reference
# mapreduce_pipeline.py:469-521 — retention rates; A11 score
# distribution :358-394 — regex extraction + per-QA count/min/max/avg)
# ---------------------------------------------------------------------------

def pipeline_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A11: filtering effectiveness and score-distribution stats."""
    mapped = _dag(spark, sf_dir, CFG)["mapped"]
    scored = mapped.withColumn(
        "score",
        F.when(
            F.regexp_extract("content", r"Score:\s*(\d+)", 1) == "", None
        ).otherwise(F.regexp_extract("content", r"Score:\s*(\d+)", 1).cast("int")),
    )
    return scored.groupBy("qa_id").agg(
        F.count("*").alias("n_chunks"),
        F.count_if(F.col("score") > CFG.score_threshold).alias("n_kept"),
        F.round(
            F.count_if(F.col("score") > CFG.score_threshold) / F.count("*"), 6
        ).alias("retention"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
        F.round(F.avg("score"), 6).alias("avg_score"),
    )


PIPE_STATS_ORACLE = f"""
WITH {_PIPE_SQL}
SELECT qa_id, count(*) AS n_chunks,
       count(*) FILTER (score > {CFG.score_threshold}) AS n_kept,
       round(count(*) FILTER (score > {CFG.score_threshold}) / count(*), 6) AS retention,
       CAST(min(CASE WHEN score = 0 THEN NULL ELSE score END) AS INT) AS min_score,
       CAST(max(CASE WHEN score = 0 THEN NULL ELSE score END) AS INT) AS max_score,
       round(avg(CASE WHEN score = 0 THEN NULL ELSE score END), 6) AS avg_score
FROM mapped GROUP BY qa_id
"""


# ---------------------------------------------------------------------------
# A4: token-usage summary over the map phase (reference
# document_processing.py:426-461 — totals, averages, efficiency ratio)
# ---------------------------------------------------------------------------

def pipeline_token_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    mapped = _dag(spark, sf_dir, CFG)["mapped"]
    return mapped.agg(
        F.sum("input_tokens").alias("total_input_tokens"),
        F.sum("output_tokens").alias("total_output_tokens"),
        F.round(F.avg("input_tokens"), 6).alias("avg_input_tokens"),
        F.round(
            F.sum("output_tokens") / F.sum("input_tokens"), 6
        ).alias("token_efficiency_ratio"),
        F.count("*").alias("n_requests"),
    )


PIPE_USAGE_ORACLE = f"""
WITH {_PIPE_SQL}
SELECT CAST(sum(len(words)) AS BIGINT) AS total_input_tokens,
       CAST(sum(len(regexp_split_to_array(trim(content), '\\s+'))) AS BIGINT)
         AS total_output_tokens,
       round(avg(len(words)), 6) AS avg_input_tokens,
       round(sum(len(regexp_split_to_array(trim(content), '\\s+')))
             / sum(len(words)), 6) AS token_efficiency_ratio,
       count(*) AS n_requests
FROM mapped
"""


# ---------------------------------------------------------------------------
# A8+P7: judge distribution + accuracy over the full DAG (W2 batches of
# 5 → U4 batch judge → J3 join-back → normalize → distribution)
# ---------------------------------------------------------------------------

def pipeline_judge_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _judge_accuracy(spark, sf_dir, CFG)


def _judge_accuracy(spark: SparkSession, sf_dir: str, cfg: MapReduceConfig) -> DataFrame:
    answers = _dag(spark, sf_dir, cfg)["answers"]
    # gold = the llm answer for every 3rd doc (known-correct control
    # group), 'gold-other' otherwise — yields a Correct/Incorrect/
    # No-answer mix that exercises the judge's full verdict domain.
    answers = answers.withColumn(
        "answer",
        F.when(
            (F.col("doc_id") % 3 == 0) & F.col("llm_answer").isNotNull(),
            F.col("llm_answer"),
        ).otherwise(F.lit("gold-other")),
    )
    judgments = judge_stage(answers, cfg)
    return (
        judgments.withColumn("judgment_norm", normalize_judgment(F.col("judgment")))
        .groupBy("judgment_norm")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "rate", F.round(F.col("n") / F.sum("n").over(Window_all()), 6)
        )
    )


def Window_all():
    from pyspark.sql import Window

    return Window.partitionBy()


PIPE_JUDGE_ORACLE = f"""
WITH {_PIPE_SQL},
judged AS (
  SELECT qa_id,
         CASE WHEN llm_answer IS NULL OR trim(llm_answer) = '' THEN 'No answer'
              WHEN doc_id % 3 = 0 THEN 'Correct'
              ELSE 'Incorrect' END AS judgment
  FROM answers
),
norm AS (
  SELECT CASE
           WHEN lower(trim(judgment)) IN ('no answer', 'no_answer') THEN 'no_answer'
           WHEN lower(trim(judgment)) IN ('correct','coherent','deviated','incorrect')
             THEN lower(trim(judgment))
           ELSE 'error' END AS judgment_norm
  FROM judged
)
SELECT judgment_norm, count(*) AS n,
       round(count(*) / sum(count(*)) OVER (), 6) AS rate
FROM norm GROUP BY judgment_norm
"""


# ---------------------------------------------------------------------------
# Truncation DAG (U3 + F3/F6 + A7; reference truncation_pipeline.py:51-107)
# ---------------------------------------------------------------------------

from finmapreduce_spark.plans.truncation import (  # noqa: E402
    TruncationConfig,
    run_truncation,
)

TCFG = TruncationConfig(token_model="words")  # word-based parity oracle


def truncation_e2e_answers(spark: SparkSession, sf_dir: str) -> DataFrame:
    qa = synthetic_qa(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    out = run_truncation(qa, docs, TCFG)["answered"]
    return out.select(
        "qa_id",
        "trunc_applied",
        F.round("trunc_retention", 6).alias("trunc_retention"),
        "llm_answer",
    )


_TRUNC_SQL = f"""
qa AS (
  SELECT doc_id AS qa_id, doc_id,
         'What is document ' || CAST(doc_id AS VARCHAR) || ' about?' AS question
  FROM documents
  UNION ALL
  SELECT 1000000 + t.i, -1 - t.i,
         'What is document ' || CAST(-1 - t.i AS VARCHAR) || ' about?'
  FROM range(0, {N_MISSING}) t(i)
),
trunc AS (
  SELECT qa.qa_id, qa.question,
         len(words) > {TCFG.max_doc_tokens} AS trunc_applied,
         round(CASE WHEN len(words) > 0
                    THEN least(len(words), {TCFG.max_doc_tokens}) / len(words)
                    ELSE 1.0 END, 6) AS trunc_retention,
         array_to_string(list_slice(words, 1, {TCFG.max_doc_tokens}), ' ') AS trunc_text
  FROM qa
  -- NULL/empty docs become P5 error rows in the engine (doc_error =
  -- 'document not found' / 'empty document'), not answers — mirror
  -- that exclusion here
  JOIN (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
        WHERE text IS NOT NULL AND trim(text) <> '') d USING (doc_id)
)
"""

TRUNC_E2E_ORACLE = f"""
WITH {_TRUNC_SQL}
SELECT qa_id, trunc_applied, trunc_retention,
       'answer-' || substring(md5(question || chr(10) || chr(10) || trunc_text), 1, 8)
         AS llm_answer
FROM trunc
"""


def truncation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (reference truncation_pipeline.py:265-313): dataset-level
    original/kept token stats, retention, truncation rate."""
    qa = synthetic_qa(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    truncated = run_truncation(qa, docs, TCFG)["truncated"]
    return truncated.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("trunc_original"), 6).alias("avg_original_tokens"),
        F.round(F.median("trunc_original"), 6).alias("median_original_tokens"),
        F.min("trunc_original").alias("min_original_tokens"),
        F.max("trunc_original").alias("max_original_tokens"),
        F.round(F.avg("trunc_tokens"), 6).alias("avg_kept_tokens"),
        F.round(F.avg("trunc_retention"), 6).alias("avg_retention"),
        F.round(
            F.count_if(F.col("trunc_applied")) / F.count("*"), 6
        ).alias("truncation_rate"),
    )


TRUNC_STATS_ORACLE = f"""
WITH {_TRUNC_SQL},
t AS (
  SELECT len(words) AS n, least(len(words), {TCFG.max_doc_tokens}) AS kept,
         len(words) > {TCFG.max_doc_tokens} AS applied,
         CASE WHEN len(words) > 0
              THEN least(len(words), {TCFG.max_doc_tokens}) / len(words)
              ELSE 1.0 END AS retention
  FROM qa JOIN (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                FROM documents
                WHERE text IS NOT NULL AND trim(text) <> '') d USING (doc_id)
)
SELECT count(*) AS n_docs,
       round(avg(n), 6) AS avg_original_tokens,
       round(median(n), 6) AS median_original_tokens,
       CAST(min(n) AS BIGINT) AS min_original_tokens,
       CAST(max(n) AS BIGINT) AS max_original_tokens,
       round(avg(kept), 6) AS avg_kept_tokens,
       round(avg(retention), 6) AS avg_retention,
       round(count(*) FILTER (applied) / count(*), 6) AS truncation_rate
FROM t
"""


# ---------------------------------------------------------------------------
# P2: json-format struct score filter (reference json_formatter.py:17-34
# — parse the map reply as JSON, keep relevance_score > 5; malformed
# replies score 0 and drop). The mock's json map reply is a pure
# word/md5 function of the prompt, so every struct field the query
# surfaces is SQL-reproducible.
# ---------------------------------------------------------------------------

CFG_JSON = MapReduceConfig(
    judge_batching="global", format_type="json", token_model="chars"
)


def p2_struct_score_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = _dag(spark, sf_dir, CFG_JSON)["kept"]
    return kept.select(
        "qa_id",
        "chunk_index",
        F.col("map_result.relevance_score").alias("relevance_score"),
        F.col("map_result.answer").alias("mid_word"),
        F.col("map_result.summary").alias("summary"),
    )


P2_STRUCT_ORACLE = f"""
WITH {_PIPE_SQL}
SELECT qa_id, chunk_index,
       CAST(score AS INT) AS relevance_score,
       words[CAST(floor(len(words) / 2) AS BIGINT) + 1] AS mid_word,
       'chunk of ' || CAST(len(words) AS VARCHAR) || ' words' AS summary
FROM mapped
WHERE score > {CFG.score_threshold}
"""


# ---------------------------------------------------------------------------
# P2 full-DAG parity: the json-format pipeline end to end — JSON map
# replies → struct score filter → per-chunk XML render (reference
# json_formatter.py:35-90: 1-based index over kept chunks, _escape_xml
# entity chain, str(list) terms/evidence) → newline-joined reduce
# prompt → mock reduce answer. Every step is a word/md5 function of
# the corpus, so the WHOLE chain has an exact SQL oracle.
# ---------------------------------------------------------------------------


def pipeline_e2e_answers_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _e2e_answers(spark, sf_dir, CFG_JSON)


def _sql_esc(expr: str) -> str:
    """The reference's _escape_xml as nested DuckDB replaces (same
    order: & first, then <, >, ', ")."""
    out = expr
    for a, b in (
        ("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
        ("''", "&apos;"), ('"', "&quot;"),  # '' = escaped quote literal
    ):
        out = f"replace({out}, '{a}', '{b}')"
    return out


_Q = "chr(39)"  # single quote, kept out of the literal soup

JSON_E2E_ORACLE = f"""
WITH {_PIPE_SQL},
jkept AS (
  SELECT qa_id, doc_id, chunk_index, words, score,
         row_number() OVER (PARTITION BY qa_id ORDER BY chunk_index) AS idx
  FROM mapped WHERE score > {CFG.score_threshold}
),
jxml AS (
  SELECT qa_id, chunk_index,
         '      <chunk_' || idx || '>' || chr(10)
      || '        <summary>'
      || {_sql_esc("'chunk of ' || len(words) || ' words'")}
      || '</summary>' || chr(10)
      || '        <terms>'
      || {_sql_esc(f"'[' || {_Q} || words[1] || {_Q} || ', ' || {_Q} || words[len(words)] || {_Q} || ']'")}
      || '</terms>' || chr(10)
      || '        <evidence>'
      || {_sql_esc(f"'[' || {_Q} || words[1] || {_Q} || ']'")}
      || '</evidence>' || chr(10)
      || '        <answer>'
      || {_sql_esc("words[CAST(floor(len(words) / 2) AS BIGINT) + 1]")}
      || '</answer>' || chr(10)
      || '        <relevance_score>' || score || '</relevance_score>' || chr(10)
      || '      </chunk_' || idx || '>' AS xml
  FROM jkept
),
jreduced AS (
  SELECT qa_id, count(*) AS n_kept,
         'Question: ' || any_value(question) || chr(10) || chr(10)
           || string_agg(xml, chr(10) ORDER BY chunk_index) AS r_prompt
  FROM jxml JOIN qa USING (qa_id)
  GROUP BY qa_id
)
SELECT q.qa_id, q.doc_id,
       coalesce(qd.doc_error, 'ok') AS doc_status,
       coalesce(r.n_kept, 0) AS n_kept,
       CASE WHEN r.qa_id IS NOT NULL
            THEN 'answer-' || substring(md5(r.r_prompt), 1, 8) END AS llm_answer,
       CASE WHEN r.qa_id IS NOT NULL
            THEN 'synthesized from '
                 || CAST(len(regexp_split_to_array(trim(r.r_prompt), '\\s+')) AS VARCHAR)
                 || ' tokens' END AS llm_reasoning
FROM qa q
LEFT JOIN (SELECT qa_id, doc_error FROM qa_docs) qd ON q.qa_id = qd.qa_id
LEFT JOIN jreduced r ON q.qa_id = r.qa_id
"""


# ---------------------------------------------------------------------------
# P4 full-DAG parity: the plain_text pipeline — 0-100 'Score:' map
# replies (first md5 byte mod 101), strict > 50 filter (reference
# plain_text_formatter.py:30-56), raw-content reduce gather.
# ---------------------------------------------------------------------------

CFG_PLAIN = MapReduceConfig(
    judge_batching="global",
    format_type="plain_text",
    score_threshold=50,
    token_model="chars",
)


def pipeline_e2e_answers_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _e2e_answers(spark, sf_dir, CFG_PLAIN)


# first md5 BYTE of the prompt, mod 101 — nibble arithmetic
_P4_SCORE = (
    "(16 * (strpos('0123456789abcdef', substring(md5(prompt), 1, 1)) - 1)"
    " + (strpos('0123456789abcdef', substring(md5(prompt), 2, 1)) - 1)) % 101"
)

PLAIN_E2E_ORACLE = f"""
WITH {_PIPE_SQL},
pmapped AS (
  SELECT qa_id, doc_id, chunk_index, words, score,
         CASE WHEN score = 0 THEN 'model returned no score'
              ELSE 'Findings: ' || words[1] || ' ... ' || words[len(words)]
                   || chr(10) || 'Score: ' || CAST(score AS VARCHAR)
         END AS content
  FROM (
    SELECT qa_id, doc_id, chunk_index,
           regexp_split_to_array(trim(prompt), '\\s+') AS words,
           {_P4_SCORE} AS score
    FROM (SELECT qa_id, doc_id, chunk_index,
                 question || chr(10) || chr(10) || chunk_text AS prompt
          FROM chunks)
  )
),
pkept AS (
  SELECT * FROM pmapped WHERE score > 50
),
preduced AS (
  SELECT qa_id, count(*) AS n_kept,
         'Question: ' || any_value(question) || chr(10) || chr(10)
           || string_agg(content, chr(10) ORDER BY chunk_index)
           AS r_prompt
  FROM pkept JOIN qa USING (qa_id)
  GROUP BY qa_id
)
SELECT q.qa_id, q.doc_id,
       coalesce(qd.doc_error, 'ok') AS doc_status,
       coalesce(r.n_kept, 0) AS n_kept,
       CASE WHEN r.qa_id IS NOT NULL
            THEN 'answer-' || substring(md5(r.r_prompt), 1, 8) END AS llm_answer,
       CASE WHEN r.qa_id IS NOT NULL
            THEN 'synthesized from '
                 || CAST(len(regexp_split_to_array(trim(r.r_prompt), '\\s+')) AS VARCHAR)
                 || ' tokens' END AS llm_reasoning
FROM qa q
LEFT JOIN (SELECT qa_id, doc_error FROM qa_docs) qd ON q.qa_id = qd.qa_id
LEFT JOIN preduced r ON q.qa_id = r.qa_id
"""


# ---------------------------------------------------------------------------
# S12 round-8: the full pipeline under --prompt_set baseline — the
# reference's plain-text prompt set (prompt_config.yml:8-11,
# map_prompt_baseline.yml 0-100 score scale). Same DAG and format
# semantics as the plain e2e, but the prompts the LLM sees come from
# the named registry set, so the mock's md5-of-prompt outputs — and
# therefore every answer hash — depend on the template text. The
# oracle rebuilds the prompts from the SAME registry strings via
# _sql_format, so a template edit that breaks CLI/API parity fails
# the hash here instead of passing silently.
# ---------------------------------------------------------------------------

def _sql_format(template: str, *exprs: str) -> str:
    """Expand a %s prompt template into the equivalent DuckDB concat
    expression over SQL expressions — the oracle-side twin of
    F.format_string (F15), generated from the registry string itself
    so oracle and engine can never disagree about template text."""
    parts = template.split("%s")
    if len(parts) != len(exprs) + 1:
        raise ValueError(
            f"template has {len(parts) - 1} slots, got {len(exprs)} exprs"
        )
    pieces: list[str] = []
    for i, part in enumerate(parts):
        if part:
            lit = "'" + part.replace("'", "''") + "'"
            # keep the oracle SQL newline-free: splice chr(10)
            lit = lit.replace("\n", "' || chr(10) || '")
            pieces.append(lit)
        if i < len(exprs):
            pieces.append(f"({exprs[i]})")
    return " || ".join(pieces) if pieces else "''"


_BASELINE_SET = load_prompt_set("baseline")

CFG_BASELINE = MapReduceConfig(
    judge_batching="global",
    format_type="plain_text",  # baseline ⇒ 0-100 scores, threshold 50
    score_threshold=50,
    token_model="chars",
    map_template=_BASELINE_SET["map"],
    reduce_template=_BASELINE_SET["reduce"],
)


def pipeline_e2e_answers_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _e2e_answers(spark, sf_dir, CFG_BASELINE)


_B_MAP_PROMPT = _sql_format(_BASELINE_SET["map"], "question", "chunk_text")
_B_REDUCE_PROMPT = _sql_format(
    _BASELINE_SET["reduce"],
    "any_value(question)",
    "string_agg(content, chr(10) ORDER BY chunk_index)",
)

BASELINE_E2E_ORACLE = f"""
WITH {_PIPE_SQL},
bmapped AS (
  SELECT qa_id, doc_id, chunk_index, words, score,
         CASE WHEN score = 0 THEN 'model returned no score'
              ELSE 'Findings: ' || words[1] || ' ... ' || words[len(words)]
                   || chr(10) || 'Score: ' || CAST(score AS VARCHAR)
         END AS content
  FROM (
    SELECT qa_id, doc_id, chunk_index,
           regexp_split_to_array(trim(prompt), '\\s+') AS words,
           {_P4_SCORE} AS score
    FROM (SELECT qa_id, doc_id, chunk_index,
                 {_B_MAP_PROMPT} AS prompt
          FROM chunks)
  )
),
bkept AS (
  SELECT * FROM bmapped WHERE score > 50
),
breduced AS (
  SELECT qa_id, count(*) AS n_kept,
         {_B_REDUCE_PROMPT} AS r_prompt
  FROM bkept JOIN qa USING (qa_id)
  GROUP BY qa_id
)
SELECT q.qa_id, q.doc_id,
       coalesce(qd.doc_error, 'ok') AS doc_status,
       coalesce(r.n_kept, 0) AS n_kept,
       CASE WHEN r.qa_id IS NOT NULL
            THEN 'answer-' || substring(md5(r.r_prompt), 1, 8) END AS llm_answer,
       CASE WHEN r.qa_id IS NOT NULL
            THEN 'synthesized from '
                 || CAST(len(regexp_split_to_array(trim(r.r_prompt), '\\s+')) AS VARCHAR)
                 || ' tokens' END AS llm_reasoning
FROM qa q
LEFT JOIN (SELECT qa_id, doc_error FROM qa_docs) qd ON q.qa_id = qd.qa_id
LEFT JOIN breduced r ON q.qa_id = r.qa_id
"""


# ---------------------------------------------------------------------------
# U4 bucketed-batching parity: the DEFAULT scale path (hash-bucketed
# judge batches — no global sort). Verdicts are batching-invariant
# (items judged independently within a batch), so the SAME oracle as
# the global-mode query certifies it; only batch COMPOSITION differs.
# ---------------------------------------------------------------------------

CFG_BUCKETED = MapReduceConfig(token_model="chars")  # bucketed default


def pipeline_judge_accuracy_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _judge_accuracy(spark, sf_dir, CFG_BUCKETED)


# ---------------------------------------------------------------------------
# F6 per-QA budget (reference truncation_utils.py:230-266 +
# main_async --context_window/--buffer): every question gets its OWN
# document budget max(1000, context_window − question_tokens − buffer).
# Questions here vary 2..31 words so the budgets genuinely differ
# per row (the pipeline's synthetic questions are all 5 words, which
# would hide a scalar-budget regression).
# ---------------------------------------------------------------------------

F6_CONTEXT_WINDOW = 1100
F6_BUFFER = 50


def truncation_f6_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from finmapreduce_spark.functions.text import word_tokens
    from finmapreduce_spark.functions.truncation import truncation_budget

    docs = read_table(spark, sf_dir, "documents")
    qa = docs.select(
        F.col("doc_id").alias("qa_id"),
        F.concat(
            F.lit("about "),
            F.expr("repeat('term ', CAST(doc_id % 30 AS INT))"),
            F.lit("document?"),
        ).alias("question"),
    )
    q_tokens = F.size(word_tokens(F.col("question")))
    budget = truncation_budget(F6_CONTEXT_WINDOW, q_tokens, buffer=F6_BUFFER)
    return qa.select(
        "qa_id",
        q_tokens.cast("int").alias("question_tokens"),
        budget.cast("int").alias("doc_budget"),
    )


F6_BUDGET_ORACLE = f"""
SELECT doc_id AS qa_id,
       CAST(len(regexp_split_to_array(trim(question), '\\s+')) AS INT)
         AS question_tokens,
       CAST(greatest(1000, {F6_CONTEXT_WINDOW}
            - len(regexp_split_to_array(trim(question), '\\s+'))
            - {F6_BUFFER}) AS INT) AS doc_budget
FROM (SELECT doc_id,
             'about ' || repeat('term ', CAST(doc_id % 30 AS INT))
             || 'document?' AS question
      FROM documents)
"""


# U5: improve_question preprocessing (reference base_pipeline.py:521-630)

# U5 renders the registry's question-improvement template around the
# question before the call — reference base_pipeline.py:598-605
# (prompt_template.format(question=...)); only the hybrid set defines
# the template (prompt_config.yml:18-22).
IMPROVE_TEMPLATE = load_prompt_set("hybrid")["question_improvement"]


def improve_questions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from finmapreduce_spark.llm.client import robust_json_parse
    from finmapreduce_spark.llm.runner import run_llm_stage

    qa = synthetic_qa(spark, sf_dir).withColumn(
        "prompt",
        F.format_string(IMPROVE_TEMPLATE, F.col("question"), F.lit("")),
    )

    def builder(pdf: pd.DataFrame, responses: list) -> pd.DataFrame:
        improved = []
        for q, r in zip(pdf["question"], responses):
            if isinstance(r, Exception):
                improved.append(q)  # fallback-to-original (reference :616)
                continue
            try:
                improved.append(robust_json_parse(r.content)["improved_question"])
            except (ValueError, KeyError):
                improved.append(q)
        return pd.DataFrame(
            {"qa_id": pdf["qa_id"].values, "question": pdf["question"].values,
             "improved_question": improved}
        )

    return run_llm_stage(
        qa,
        prompt_col="prompt",
        kind="improve",
        out_schema="qa_id long, question string, improved_question string",
        row_builder=builder,
        expect_json=True,
    )


# the oracle rebuilds the rendered improvement prompt from the SAME
# registry string (template drift fails the value hash, as with the
# baseline e2e)
_IMPROVE_PROMPT = _sql_format(IMPROVE_TEMPLATE, "question", "''")

IMPROVE_ORACLE = f"""
WITH qa AS (
  SELECT doc_id AS qa_id,
         'What is document ' || CAST(doc_id AS VARCHAR) || ' about?' AS question
  FROM documents
  UNION ALL
  SELECT 1000000 + t.i,
         'What is document ' || CAST(-1 - t.i AS VARCHAR) || ' about?'
  FROM range(0, {N_MISSING}) t(i)
)
SELECT qa_id, question,
       'Improved: ' || ({_IMPROVE_PROMPT}) AS improved_question
FROM qa
"""



# ---------------------------------------------------------------------------
# The PROMOTED-DEFAULT e2e twin (round 15): the same map->filter->
# reduce DAG with chunk budgets in TOKENS under the engine's default
# tokenizer-exact model (vendored-BPE MergesBPE Arrow UDF) -- the
# path a user gets with no flags, certified end-to-end against a
# DuckDB oracle that tokenizes identically (vocab_tokens_sql_ctes).
# 96/16 token chunks so fixture docs produce multi-chunk coverage.
# ---------------------------------------------------------------------------

BPE_E2E_CHUNK, BPE_E2E_OVERLAP = 96, 16
_BPE_E2E_STEP = BPE_E2E_CHUNK - BPE_E2E_OVERLAP

CFG_E2E_BPE = MapReduceConfig(
    judge_batching="global",
    token_model="bpe",
    chunk_size=BPE_E2E_CHUNK,
    chunk_overlap=BPE_E2E_OVERLAP,
)


def pipeline_e2e_answers_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _e2e_answers(spark, sf_dir, CFG_E2E_BPE)


def _bpe_e2e_oracle() -> str:
    """The char-parity _PIPE_SQL with ONLY the chunks CTE swapped for
    token slices (the downstream mock-LLM closed forms are shared
    verbatim, so the two oracles cannot drift apart)."""
    from finmapreduce_spark.functions.token_model import vocab_tokens_sql_ctes

    old_start = "chunks AS ("
    old_end = "mapped AS ("
    i = _PIPE_SQL.index(old_start)
    j = _PIPE_SQL.index(old_end)
    new_chunks = f"""chunks AS (
  SELECT qa_id, doc_id, question, CAST(t.i AS INT) AS chunk_index,
         coalesce(array_to_string(
           list_slice(tk, CAST(t.i AS BIGINT) * {_BPE_E2E_STEP} + 1,
                      CAST(t.i AS BIGINT) * {_BPE_E2E_STEP} + {BPE_E2E_CHUNK}),
           ''), '') AS chunk_text
  FROM (
    SELECT qa_id, doc_id, question, tk,
           CASE WHEN n <= {BPE_E2E_CHUNK} THEN 1
                ELSE CAST(ceil((n - {BPE_E2E_CHUNK}) / {_BPE_E2E_STEP}.0)
                     AS BIGINT) + 1 END AS n_chunks
    FROM (SELECT qa_id, doc_id, question FROM qa_docs
          WHERE doc_error IS NULL)
    JOIN bpe_sized USING (doc_id)
  ), LATERAL unnest(range(0, n_chunks)) AS t(i)
),
"""
    pipe = _PIPE_SQL[:i] + new_chunks + _PIPE_SQL[j:]
    return f"""
WITH {vocab_tokens_sql_ctes()},
bpe_sized AS (SELECT doc_id, tk, len(tk) AS n FROM vtok),
{pipe}
SELECT qa_id, doc_id,
       coalesce(doc_error, 'ok') AS doc_status,
       coalesce(n_kept, 0) AS n_kept,
       llm_answer, llm_reasoning
FROM answers
"""

QUERIES: dict[str, QuerySpec] = {
    "pipeline_e2e_answers": QuerySpec(pipeline_e2e_answers, PIPE_E2E_ORACLE),
    "pipeline_e2e_answers_bpe": QuerySpec(
        pipeline_e2e_answers_bpe, _bpe_e2e_oracle()
    ),
    "pipeline_map_stats": QuerySpec(pipeline_map_stats, PIPE_STATS_ORACLE),
    "pipeline_token_usage": QuerySpec(pipeline_token_usage, PIPE_USAGE_ORACLE),
    "pipeline_judge_accuracy": QuerySpec(pipeline_judge_accuracy, PIPE_JUDGE_ORACLE),
    "pipeline_judge_accuracy_bucketed": QuerySpec(
        pipeline_judge_accuracy_bucketed, PIPE_JUDGE_ORACLE
    ),
    "p2_struct_score_filter": QuerySpec(p2_struct_score_filter, P2_STRUCT_ORACLE),
    "pipeline_e2e_answers_json": QuerySpec(pipeline_e2e_answers_json, JSON_E2E_ORACLE),
    "pipeline_e2e_answers_baseline": QuerySpec(
        pipeline_e2e_answers_baseline, BASELINE_E2E_ORACLE
    ),
    "pipeline_e2e_answers_plain": QuerySpec(
        pipeline_e2e_answers_plain, PLAIN_E2E_ORACLE
    ),
    "truncation_e2e_answers": QuerySpec(truncation_e2e_answers, TRUNC_E2E_ORACLE),
    "truncation_stats": QuerySpec(truncation_stats, TRUNC_STATS_ORACLE),
    "truncation_f6_budget": QuerySpec(truncation_f6_budget, F6_BUDGET_ORACLE),
    "improve_questions": QuerySpec(improve_questions, IMPROVE_ORACLE),
}
