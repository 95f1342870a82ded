"""F9 — XML escaping and chunk rendering as column expressions.

Reference: escape &<>'\" then render per-chunk ``<chunk_i>`` blocks
(reference src/formatters/json_formatter.py:55-98). The judge
``<item>`` block (F10) is built inline in plans/mapreduce.py::judge_stage.

Pure ``replace``/``concat`` chains — codegen'd, and reproducible in
ANSI SQL for the oracles. Escape order matters: & first, or already-
escaped entities get double-escaped.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_XML_ESCAPES = (
    ("&", "&amp;"),  # must be first
    ("<", "&lt;"),
    (">", "&gt;"),
    ("'", "&apos;"),
    ('"', "&quot;"),
)


def xml_escape(col: Column) -> Column:
    """F9: escape the five XML special characters, & first."""
    out = col
    for raw, ent in _XML_ESCAPES:
        out = F.replace(out, F.lit(raw), F.lit(ent))
    return out


def xml_escape_sql(expr: str) -> str:
    """The identical escape chain as DuckDB SQL (oracle side)."""
    out = expr
    for raw, ent in _XML_ESCAPES:
        raw_sql = raw.replace("'", "''")
        ent_sql = ent.replace("'", "''")
        out = f"replace({out}, '{raw_sql}', '{ent_sql}')"
    return out


def render_chunk_xml(index: Column, text: Column) -> Column:
    """F9: one ``<chunk_i>escaped</chunk_i>`` block."""
    i = index.cast("string")
    return F.concat(
        F.lit("<chunk_"), i, F.lit(">\n"),
        xml_escape(text),
        F.lit("\n</chunk_"), i, F.lit(">"),
    )
