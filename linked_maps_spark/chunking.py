"""Sliding-window document chunking — the RAG / context-window prep step.

A training-data (and retrieval) pipeline slices long documents into
overlapping word windows before embedding or packing: chunk ``i`` of a
document covers words ``[i*stride, i*stride + size)`` where
``stride = size - overlap``, the last window is allowed to run short, and a
document shorter than one window yields exactly one chunk.  The reference
has no text pipeline at all (its closest analog is the per-feature WKT
content column, ``/root/reference/segment.py:33-60``); this is one of the
brief's first-class training-data operators.

Spark-first design — the whole operator is JVM expressions inside one
whole-stage-codegen span, no UDFs and no shuffle at all until the caller
aggregates:

* tokenize once (``split(trim(text), '\\s+')`` — the portable tokenizer
  contract shared with :mod:`dedup`, identical to DuckDB's
  ``string_split_regex``),
* compute the chunk count in closed form with integer arithmetic
  (``((n - size + stride - 1) DIV stride) + 1``, exact in both engines),
* ``posexplode(sequence(...))`` fans out one row per window and ``slice``
  projects it — per-row output is bounded by ``ceil(n/stride)`` so the
  operator streams: no document's windows ever gather anywhere, which is
  what lets it run over 100 TB of raw text as a pure map stage.

Chunk identity is ``(doc_id, chunk_id)`` with ``chunk_id`` dense from 0 —
downstream embedding/packing stages can join back losslessly, and
re-running the operator is idempotent (pure function of the text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_SIZE = 64
DEFAULT_OVERLAP = 16


def _check(size: int, overlap: int) -> int:
    if size <= 0:
        raise ValueError(f"chunk size must be positive, got {size}")
    if not (0 <= overlap < size):
        raise ValueError(
            f"overlap must satisfy 0 <= overlap < size, got {overlap} / {size}"
        )
    return size - overlap


def chunk_windows(
    documents: DataFrame,
    size: int = DEFAULT_SIZE,
    overlap: int = DEFAULT_OVERLAP,
) -> DataFrame:
    """Overlapping word windows of every document.

    Returns ``(doc_id, chunk_id, n_words, chunk_text)`` — one row per
    window, ``chunk_id`` dense from 0 in document order; blank documents
    (whitespace-only text) yield no rows.  ``n_words`` is the window's
    actual word count (only the final window may run short)."""
    stride = _check(size, overlap)
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.when(F.size("w") <= size, F.lit(1)).otherwise(
        F.expr(f"((size(w) - {size} + {stride} - 1) DIV {stride}) + 1")
    )
    chunk = F.slice(F.col("w"), F.col("chunk_id") * stride + 1, size)
    return (
        documents.filter(F.trim("text") != "")
        .select("doc_id", words.alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size(chunk).cast("long").alias("n_words"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def chunk_windows_sql(
    size: int = DEFAULT_SIZE, overlap: int = DEFAULT_OVERLAP
) -> str:
    """DuckDB oracle for :func:`chunk_windows` — same tokenizer, same
    closed-form chunk count, same inclusive-clamped slice."""
    stride = _check(size, overlap)
    return f"""
    WITH w AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
        FROM documents WHERE trim(text) <> ''
    ),
    c AS (
        SELECT doc_id, words,
               CASE WHEN len(words) <= {size} THEN 1
                    ELSE ((len(words) - {size} + {stride} - 1) // {stride}) + 1
               END AS n_chunks
        FROM w
    ),
    g AS (
        SELECT doc_id, words,
               CAST(UNNEST(range(0, n_chunks)) AS BIGINT) AS chunk_id
        FROM c
    )
    SELECT doc_id, chunk_id,
           CAST(len(list_slice(words, chunk_id * {stride} + 1,
                               chunk_id * {stride} + {size})) AS BIGINT)
               AS n_words,
           array_to_string(list_slice(words, chunk_id * {stride} + 1,
                                      chunk_id * {stride} + {size}), ' ')
               AS chunk_text
    FROM g ORDER BY doc_id, chunk_id
    """


def chunk_stats(
    documents: DataFrame,
    size: int = DEFAULT_SIZE,
    overlap: int = DEFAULT_OVERLAP,
) -> DataFrame:
    """Per-document chunking summary (``doc_id, n_chunks, n_words_total``)
    — the planning aggregate an embedding stage sizes its batches with.
    One partial-aggregated groupBy over :func:`chunk_windows`'s map stage."""
    return (
        chunk_windows(documents, size, overlap)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_words").alias("n_words_total"),
        )
        .orderBy("doc_id")
    )


def chunk_stats_sql(
    size: int = DEFAULT_SIZE, overlap: int = DEFAULT_OVERLAP
) -> str:
    return f"""
    WITH chunks AS ({chunk_windows_sql(size, overlap)})
    SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(n_words) AS BIGINT) AS n_words_total
    FROM chunks GROUP BY doc_id ORDER BY doc_id
    """
