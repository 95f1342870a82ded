"""F2 — text chunking with overlap (the flatMap at the heart of the map
phase).

Reference: RecursiveCharacterTextSplitter with (chunk_size=32768,
chunk_overlap=4096) defaults (/root/reference/src/utils/
document_processing.py:246-267, main_async.py:44-47).

Spark-first design: the splitter is a *pure column expression* —
``sequence`` of chunk starts + ``posexplode`` + ``substring`` — so
chunking runs inside whole-stage codegen with zero Python. A
character-window splitter is semantically the reference's
CharacterTextSplitter; the tokenizer-exact variant (needs tiktoken)
plugs in behind the same (doc_name, chunk_index, chunk_text) contract.

Chunk i covers characters [i*step + 1, i*step + size], step = size -
overlap; n_chunks = 1 if len <= size else ceil((len - size)/step) + 1.
The same closed form is expressible in ANSI SQL (generate_series +
substring) which is exactly what the DuckDB oracle runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def chunk_plan(text: Column, chunk_size: int, chunk_overlap: int) -> Column:
    """Array of chunk strings for one text column (JVM-side)."""
    if chunk_overlap >= chunk_size:
        raise ValueError("chunk_overlap must be < chunk_size")
    step = chunk_size - chunk_overlap
    n = F.length(text)
    n_chunks = F.when(
        n <= chunk_size, F.lit(1)
    ).otherwise(F.ceil((n - F.lit(chunk_size)) / F.lit(step)) + 1)
    starts = F.sequence(F.lit(0), n_chunks - 1)
    return F.transform(starts, lambda i: F.substring(text, i * step + 1, chunk_size))


def explode_chunks(
    df: DataFrame,
    text_col: str = "content",
    key_cols: tuple[str, ...] = ("doc_name",),
    chunk_size: int = 32768,
    chunk_overlap: int = 4096,
) -> DataFrame:
    """documents → chunks: (key..., chunk_index int, chunk_text string).

    ``posexplode`` keeps the 0-based chunk order explicit (W1: chunk
    order is semantic — the reduce stage reassembles by it).

    Scale note: no shuffle here — chunking is a narrow map; the row
    explosion multiplies data ~len/step ×, so downstream stages should
    filter (P2/P3 score filter) before any wide operation.
    """
    chunks = chunk_plan(F.col(text_col), chunk_size, chunk_overlap)
    return df.select(
        *[F.col(c) for c in key_cols],
        F.posexplode(chunks).alias("chunk_index", "chunk_text"),
    )
