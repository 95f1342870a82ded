"""S12/F15 — prompt-set registry, auto-detection, and template formatting.

Reference: prompt sets are YAML files resolved by NAME through a
config registry (config/prompts/prompt_config.yml:1-34, loader
document_processing.py:562-598) into LangChain PromptTemplates;
formatting is ``template.format(**kw)`` (async_llm_client.py:438-454).
The six reference sets and their semantics:

  default   — hybrid-style map/reduce ('Score: N' 0-10 line), the
              registry's default_set (prompt_config.yml:34)
  baseline  — plain-text map/reduce with a 0-100 score line and the
              baseline judge (map_prompt_baseline.yml: 'score between
              0 and 100')
  standard  — JSON-structured map reply (map_prompt.yml: summary /
              terms / evidence / answer / relevance_score object)
  hybrid    — like default plus the question-improvement prompt
              (prompt_config.yml:18-22)
  direct    — ONE template for both map and reduce: whole-context QA
              with no score line (direct_prompt.yml used for both
              slots, prompt_config.yml:24-27)
  finqa     — FinQA-flavored map/reduce, 0-10 score line with
              absolute/percentage-change emphasis (map_prompt_finqa.yml)

Auto-detection when no set is named follows main_async.py:92-101:
format hybrid → 'hybrid', plain_text → 'baseline', anything else →
'default'. Unknown names raise listing the available sets
(document_processing.py:580-582). Template TEXT here is original —
the engine's correctness never depends on prompt wording (the mock
LLM is a pure function of the whole prompt string), and the e2e
oracles rebuild whatever template the query under test uses.

Spark posture: a prompt set is driver-side config, broadcast
implicitly by closure capture into the LLM UDFs — it is NOT data.
Column-level formatting (building per-row prompts from columns)
uses ``F.format_string``, which stays inside whole-stage codegen;
``render_prompt`` is the in-UDF scalar twin.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Shared judge template: ONE %s slot (the rendered
# <evaluation_items> XML). Items are judged independently, so one
# judge text serves every set except baseline (which has its own
# judge file in the reference registry). Both templates demand a
# single valid JSON object, as the reference judge prompts do
# (judge_prompt.yml:231-233, judge_prompt_baseline.yml:169-171) —
# this wording is ALSO what lets the live client opt the call into
# provider-side JSON mode (client.py build_payload only sets
# response_format=json_object when the message mentions JSON,
# because OpenAI rejects json_object requests that don't).
_JUDGE = (
    "Judge each item as Correct/Coherent/Deviated/Incorrect/"
    "No answer. Reply with a single valid JSON object whose "
    '"evaluation_results" key holds one object per item with keys '
    "evaluation_number, judgement and reasoning.\n\nItems:\n%s"
)
_JUDGE_BASELINE = (
    "For every item below, compare the model answer to the gold "
    "answer and label it Correct, Coherent, Deviated, Incorrect or "
    "No answer. Reply with a single valid JSON object whose "
    '"evaluation_results" key holds one object per item with keys '
    "evaluation_number, judgement and reasoning.\n\nItems:\n%s"
)

# The direct set uses ONE template for both the map and reduce slots
# (reference prompt_config.yml:24-27): whole-context QA, no score.
_DIRECT = (
    "Answer the question from the context below; say you don't know "
    "rather than guessing.\nQuestion: %s\n\nContext:\n%s\nAnswer:"
)

# %s slots: every template takes (question, payload) in that order —
# payload is the chunk text for map, the gathered map results for
# reduce, the whole document for direct.
_SETS: dict[str, dict[str, str]] = {
    "default": {
        "map": "Answer from the chunk and end with a 'Score: N' "
        "(0-10) line rating how fully it answers.\n"
        "Question: %s\n\nChunk:\n%s",
        "reduce": "Synthesize a JSON answer (reasoning/evidence/answer) "
        "from the scored findings, preferring higher scores.\n"
        "Question: %s\n\nFindings:\n%s",
        "judge": _JUDGE,
    },
    "baseline": {
        "map": "Answer from the context, then a 'Score: N' (0-100) "
        "line; unknown answers score 0.\n"
        "Question: %s\n\nContext:\n%s",
        "reduce": "Combine the scored extracts into one final "
        "answer.\nQuestion: %s\n\nExtracts:\n%s",
        "judge": _JUDGE_BASELINE,
    },
    "standard": {
        "map": "Reply as a single JSON object with summary/terms/"
        "evidence/answer/relevance_score (0-10).\n"
        "Question: %s\n\nChunk:\n%s",
        "reduce": "Synthesize a JSON answer (reasoning/evidence/answer) "
        "from the chunk analyses.\nQuestion: %s\n\nAnalyses:\n%s",
        "judge": _JUDGE,
    },
    "hybrid": {
        "map": "Report Evidence, Answer and 'Score: N' (0-10) lines.\n"
        "Question: %s\n\nChunk:\n%s",
        "reduce": "Combine the scored findings into a JSON answer.\n"
        "Question: %s\n\nFindings:\n%s",
        "judge": _JUDGE,
    },
    "direct": {
        "map": _DIRECT,
        "reduce": _DIRECT,
        "judge": _JUDGE,
    },
    "finqa": {
        "map": "Answer with exact metrics, reporting absolute and "
        "percentage change where possible, then a 'Score: N' (0-10) "
        "line.\nQuestion: %s\n\nChunk:\n%s",
        "reduce": "Merge the scored numeric findings into a JSON "
        "answer (reasoning/evidence/answer).\n"
        "Question: %s\n\nFindings:\n%s",
        "judge": _JUDGE,
    },
}

DEFAULT_SET = "default"  # prompt_config.yml:34 default_set

# Only the hybrid set carries the question-improvement prompt in the
# reference registry (prompt_config.yml:18-22).
_IMPROVEMENT_SETS = {"hybrid"}
_OPTIONAL = {
    "question_improvement": "Rewrite the question for clarity; reply as "
    'JSON {"improved_question": ...}.\nQuestion: %s%s'
}

# Legacy format-name aliases (the rebuild's pre-round-8 registry was
# keyed by format). They resolve exactly as the reference's
# auto-detection would: json → default, plain_text → baseline
# (hybrid is already a set name).
_FORMAT_ALIASES = {"json": "default", "plain_text": "baseline"}


def auto_prompt_set(format_type: str | None) -> str:
    """Reference main_async.py:92-101: the prompt set implied by a
    format when none is named — hybrid → hybrid, plain_text →
    baseline, everything else (json, None) → default."""
    if format_type == "hybrid":
        return "hybrid"
    if format_type == "plain_text":
        return "baseline"
    return DEFAULT_SET


def load_prompt_set(
    name: str | None = None, include_improvement: bool = False
) -> dict[str, str]:
    """S12: resolve a prompt set by name. The registry carries the six
    reference names (default/baseline/standard/hybrid/direct/finqa);
    ``None`` falls back to the default set and unknown names raise
    listing the available ones (document_processing.py:577-582,
    factory.py posture). The hybrid set includes its
    question-improvement template automatically, as the reference
    loader does for sets that define one (document_processing.py:
    594-596); ``include_improvement`` forces it for any set."""
    if name is None:
        name = DEFAULT_SET
    name = _FORMAT_ALIASES.get(name, name)
    if name not in _SETS:
        raise ValueError(f"unknown prompt set {name!r}; one of {sorted(_SETS)}")
    out = dict(_SETS[name])
    if include_improvement or name in _IMPROVEMENT_SETS:
        out.update(_OPTIONAL)
    return out


# Which slots of each set expect a machine-parseable JSON reply —
# STRUCTURAL flags mirroring the reference's parse_json wiring
# (main_async.py:131-192: the hybrid/json reduce LLM parses JSON,
# plain_text does not; the judge always parses JSON). The baseline
# reduce is prose by design and the direct set answers in prose; a
# wording edit to a template can therefore never silently flip retry
# semantics (the stages consume these flags, not a substring sniff).
_REDUCE_JSON = {
    "default": True,
    "baseline": False,
    "standard": True,
    "hybrid": True,
    "direct": False,
    "finqa": True,
}


def prompt_set_flags(name: str | None = None) -> dict[str, bool]:
    """Parse expectations for a set: ``reduce_json`` / ``judge_json``
    say whether those stages should strictly parse (and retry) JSON
    replies. Same name resolution as load_prompt_set."""
    if name is None:
        name = DEFAULT_SET
    name = _FORMAT_ALIASES.get(name, name)
    if name not in _SETS:
        raise ValueError(f"unknown prompt set {name!r}; one of {sorted(_SETS)}")
    return {"reduce_json": _REDUCE_JSON[name], "judge_json": True}


def prompt_config(name: str) -> dict:
    """The MapReduceConfig fields a prompt set decides: its map /
    reduce / judge templates and the reduce / judge JSON parse
    expectations. Same name resolution as load_prompt_set."""
    prompt_set, flags = load_prompt_set(name), prompt_set_flags(name)
    return {
        "map_template": prompt_set["map"],
        "reduce_template": prompt_set["reduce"],
        "judge_template": prompt_set["judge"],
        "reduce_expect_json": flags["reduce_json"],
        "judge_expect_json": flags["judge_json"],
    }


def available_prompt_sets() -> list[str]:
    """The six reference set names, for CLI/API validation surfaces."""
    return sorted(_SETS)


def prompt_col(template: str, *cols: Column) -> Column:
    """F15, column form: build the per-row prompt JVM-side
    (format_string, codegen'd — no Python round-trip)."""
    return F.format_string(template, *cols)


def render_prompt(template: str, *values: str) -> str:
    """F15, scalar form for use inside LLM UDF workers."""
    return template % tuple("" if v is None else v for v in values)
